"""Catalog extensions: the large-scale training-data-pipeline operators —
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
similarity search (brute-force + LSH), text analysis (lang-id / quality /
token-count / fingerprint), multimodal plumbing, and event operators
(tumbling / sessionize / as-of / range join).

Every oracle below is GENERATED from the same constants as the Spark
implementation (functions/texthash.py, functions/vectors.py) so the two
sides cannot drift: the MinHash coefficients, shingle builder, LSH
hyperplanes, stopword lists and session gaps are single-sourced.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_view_spark.catalog import load_tables, register
from polars_view_spark.functions.texthash import (
    MINHASH_BAND_ROWS,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    TOKEN_REGEX,
    duck_hex64_sql,
    hex64_sql,
    duck_ngrams_sql,
    duck_shingles_sql,
    duck_tokens_sql,
)
from polars_view_spark.functions.vectors import (
    duck_adaptive_lsh_bits_sql,
    duck_cosine_sql,
    duck_lsh_bucket_masked_sql,
    rp_projection_sql,
)
from polars_view_spark.operators.retrieval import duck_adaptive_neg_buckets_sql
from polars_view_spark.operators.textstats import (
    STOPWORDS,
    duck_stopword_count_sql,
)
from polars_view_spark.sources import store

EMB_DIM = 64
ANN_K = 5
ANN_N_QUERIES = 5
NEAR_DUP_COS = 0.4
JACCARD_T = 0.5
SESSION_GAP_MIN = 30

# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


def _d_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one deterministic survivor (min doc_id) per
    (lang, n_chars) key — reference-free hash-groupBy dedup
    (operators/dedup.py:dedup_exact)."""
    from polars_view_spark.operators.dedup import dedup_exact

    t = load_tables(spark, sf_dir, "documents")
    return (
        dedup_exact(t["documents"], ["lang", "n_chars"], "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


register(
    "d_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1 ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_dedup_exact)


def _d_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-dedup: md5 fingerprint of normalized text as the exact-dup
    key, deterministic min-id survivor (textstats.fingerprint +
    dedup.dedup_exact composed)."""
    from polars_view_spark.operators.dedup import dedup_exact
    from polars_view_spark.operators.textstats import fingerprint

    t = load_tables(spark, sf_dir, "documents")
    fp = fingerprint(t["documents"])
    return (
        dedup_exact(fp, ["fingerprint"], "doc_id")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


register(
    "d_dedup_by_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint FROM (
      SELECT doc_id, fingerprint,
             ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM fp) t
    WHERE rn = 1 ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_dedup_fingerprint)


def _t_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCT path end-to-end through the driver gate: DataContainer
    loads the parquet, folds the reference-ordered pipeline (drop-regex →
    replace-nulls → SQL → row-index) and the result must match a plain SQL
    oracle — proving the interactive engine computes what the SQL says."""
    from polars_view_spark.config import LoadConfig
    from polars_view_spark.container import DataContainer

    cfg = LoadConfig(
        path=f"{sf_dir}/lineitem.parquet",
        drop=True,
        drop_regex="^l_(tax|partkey|suppkey)$",
        apply_sql=True,
        query=(
            "SELECT l_returnflag, COUNT(*) AS n, "
            "ROUND(SUM(l_quantity) + 1e-6, 2) AS qty "
            "FROM AllData GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        add_row_index=True,
        row_index_name="row_number",
    )
    container = DataContainer.load_data(spark, cfg, cache=False)
    return container.df


register(
    "t_pipeline_full",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_returnflag) AS BIGINT) AS row_number,
           l_returnflag, COUNT(*) AS n,
           ROUND(SUM(l_quantity) + 1e-6, 2) AS qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tables=("lineitem",),
)(_t_pipeline_full)


def _duck_minhash_oracle(lookup_mod: int | None = None) -> str:
    """Full-pairing MinHash oracle; with ``lookup_mod`` set, the
    BATCH-INVARIANT lookup variant instead (docs with
    ``doc % lookup_mod == 0`` are the arrivals): the hot-bucket cap is
    computed over CORPUS bands only and candidates are arrival×corpus
    exclusively — mirroring minhash_query_index(include_batch_pairs=
    False) / streaming_minhash_lookup."""
    from polars_view_spark.operators.dedup import MAX_LSH_BUCKET as max_bucket

    p = MINHASH_PRIME
    mh_aggs = ",\n         ".join(
        f"MIN(({a} * h31 + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    n_bands = len(MINHASH_COEFFS) // MINHASH_BAND_ROWS
    band_selects = "\n      UNION ALL ".join(
        "SELECT {band} AS band, mh{v0} AS v0, mh{v1} AS v1, doc FROM sigs".format(
            band=band, v0=band * MINHASH_BAND_ROWS, v1=band * MINHASH_BAND_ROWS + 1
        )
        for band in range(n_bands)
    )
    sh = duck_shingles_sql("text")
    return f"""
    WITH sh AS (
      SELECT doc_id AS doc, unnest({sh}) AS shingle FROM documents
    ),
    hashed AS (
      SELECT doc, ({duck_hex64_sql("shingle")} % {p}) AS h31 FROM sh
    ),
    sigs AS (
      SELECT doc,
         {mh_aggs}
      FROM hashed GROUP BY doc
    ),
    bands AS (
      {band_selects}
    ),
    kept AS (
      SELECT * FROM bands{f" WHERE doc % {lookup_mod} != 0" if lookup_mod else ""}
      QUALIFY COUNT(*) OVER (PARTITION BY band, v0, v1) <= {max_bucket}
    ),
    cand AS (
      {f'''SELECT DISTINCT least(a.doc, c.doc) AS doc1, greatest(a.doc, c.doc) AS doc2
      FROM (SELECT * FROM bands WHERE doc % {lookup_mod} = 0) a JOIN kept c
        ON a.band = c.band AND a.v0 = c.v0 AND a.v1 = c.v1''' if lookup_mod else '''SELECT DISTINCT l.doc AS doc1, r.doc AS doc2
      FROM kept l JOIN kept r
        ON l.band = r.band AND l.v0 = r.v0 AND l.v1 = r.v1 AND l.doc < r.doc'''}
    ),
    shs AS (SELECT doc_id AS doc, {sh} AS s FROM documents),
    jac AS (
      SELECT doc1, doc2,
             len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      FROM cand JOIN shs a ON a.doc = cand.doc1 JOIN shs b ON b.doc = cand.doc2
    )
    SELECT doc1, doc2, round(j, 6) AS jaccard FROM jac
    WHERE j >= {JACCARD_T} ORDER BY doc1, doc2
    """


def _d_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact-Jaccard verify —
    the scale path for fuzzy dedup (operators/dedup.py:minhash_lsh_pairs)."""
    from polars_view_spark.operators.dedup import minhash_lsh_pairs

    t = load_tables(spark, sf_dir, "documents")
    return minhash_lsh_pairs(t["documents"], "doc_id", "text", JACCARD_T).orderBy(
        "doc1", "doc2"
    )


register("d_minhash_lsh_pairs", oracle=_duck_minhash_oracle(), tables=("documents",))(
    _d_minhash
)


def _duck_simhash_ctes(bits: int, features: str = "tokens") -> str:
    """The shared feature→hash→bit-sum→fingerprint CTE chain, mirroring
    operators/dedup.py:simhash_bits bit-for-bit at any width."""
    assert features in ("tokens", "shingles"), features  # mirror simhash_bits
    feat = duck_tokens_sql("text") if features == "tokens" else duck_shingles_sql("text")
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""toks AS (
      SELECT doc_id AS doc, unnest(list_distinct({feat})) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc, {duck_hex64_sql("tok")} AS h FROM toks),
    sums AS (
      SELECT doc,
         {sums}
      FROM hashed GROUP BY doc
    ),
    sigs AS (SELECT doc, CAST({fp} AS BIGINT) AS simhash FROM sums)"""


def _duck_simhash_oracle() -> str:
    return f"""
    WITH {_duck_simhash_ctes(16)}
    SELECT doc, simhash FROM sigs ORDER BY doc
    """


def _d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (operators/dedup.py:simhash16)."""
    from polars_view_spark.operators.dedup import simhash16

    t = load_tables(spark, sf_dir, "documents")
    return (
        simhash16(t["documents"], "doc_id", "text")
        .select("doc", F.col("simhash").cast("long").alias("simhash"))
        .orderBy("doc")
    )


register("d_simhash", oracle=_duck_simhash_oracle(), tables=("documents",))(_d_simhash)


def _duck_simhash_near_dup_oracle() -> str:
    from polars_view_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        SIMHASH_PAIR_BITS,
    )

    return f"""
    WITH {_duck_simhash_ctes(SIMHASH_PAIR_BITS, features="shingles")}
    SELECT a.doc AS doc1, b.doc AS doc2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc < b.doc
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc1, doc2
    """


def _d_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the pigeonhole band join
    (operators/dedup.py:simhash_near_dup_pairs): dist ≤ d implies exact
    agreement on one of d+1 fingerprint bands, so candidates come from
    per-band equi-joins (cost O(Σ bucket²), hot-bucket-guarded) and the
    brute-force all-pairs oracle is matched EXACTLY — banding loses
    nothing, unlike MinHash-LSH's probabilistic bands."""
    from polars_view_spark.operators.dedup import simhash_near_dup_pairs

    t = load_tables(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(t["documents"], "doc_id", "text").orderBy(
        "doc1", "doc2"
    )


register(
    "d_simhash_near_dup", oracle=_duck_simhash_near_dup_oracle(), tables=("documents",)
)(_d_simhash_near_dup)


def _duck_ngram_jaccard_oracle() -> str:
    sh = duck_shingles_sql("text")
    return f"""
    WITH shs AS (SELECT doc_id AS doc, lang, {sh} AS s FROM documents),
    pairs AS (
      SELECT a.doc AS doc1, b.doc AS doc2,
             len(list_intersect(a.s, b.s))::DOUBLE
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      FROM shs a JOIN shs b ON a.lang = b.lang AND a.doc < b.doc
    )
    SELECT doc1, doc2, round(j, 6) AS jaccard FROM pairs
    WHERE j >= {JACCARD_T} ORDER BY doc1, doc2
    """


def _d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dups within language blocks — the
    brute-force baseline for the LSH path
    (operators/dedup.py:ngram_jaccard_pairs)."""
    from polars_view_spark.operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(t["documents"], "doc_id", "text", ["lang"], JACCARD_T).orderBy(
        "doc1", "doc2"
    )


register(
    "d_ngram_jaccard_pairs", oracle=_duck_ngram_jaccard_oracle(), tables=("documents",)
)(_d_ngram_jaccard)


def _d_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-vs-exact dedup scorecard (operators/dedup.py:dedup_eval): full
    outer join of the blocked exact-Jaccard truth set and the MinHash+LSH
    pair set → one row of counts + integer-ppm recall/precision.  The
    oracle composes the two component oracles verbatim as subqueries, so
    every number inherits their value-hash parity."""
    from polars_view_spark.operators.dedup import dedup_eval

    t = load_tables(spark, sf_dir, "documents")
    return dedup_eval(t["documents"], "doc_id", "text", ["lang"], JACCARD_T)


register(
    "d_dedup_eval",
    oracle=f"""
    WITH truth AS (SELECT doc1, doc2, 1 AS t FROM ({_duck_ngram_jaccard_oracle()}) x),
    pred AS (SELECT doc1, doc2, 1 AS p FROM ({_duck_minhash_oracle()}) y),
    j AS (
      SELECT coalesce(truth.t, 0) AS t, coalesce(pred.p, 0) AS p
      FROM truth FULL OUTER JOIN pred
        ON truth.doc1 = pred.doc1 AND truth.doc2 = pred.doc2
    ),
    agg AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n_truth,
             CAST(SUM(p) AS BIGINT) AS n_pred,
             CAST(SUM(t * p) AS BIGINT) AS n_tp,
             CAST(SUM(t * (1 - p)) AS BIGINT) AS n_fn,
             CAST(SUM((1 - t) * p) AS BIGINT) AS n_fp
      FROM j
    )
    SELECT *,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE CAST(n_tp * 1000000 // n_truth AS BIGINT) END AS recall_ppm,
           CASE WHEN n_pred = 0 THEN NULL
                ELSE CAST(n_tp * 1000000 // n_pred AS BIGINT) END AS precision_ppm
    FROM agg
    """,
    tables=("documents",),
)(_d_dedup_eval)


LEV_BAND_CHARS = 100  # length-band width for the compound blocking key
LEV_PREFIX_CHARS = 8  # normalized-head prefix length in the blocking key


def _d_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup: pairs whose text heads are within a small
    Levenshtein distance — the char-level complement of the token-level
    (Jaccard) and bit-level (SimHash) flavors.

    Blocking is the COMPOUND key ``(lang, n_chars div 100, head[:8])``, not
    language alone: at 100 TB a language block is ~the whole corpus (O(n²)
    pairs), while length-band × 8-char-prefix blocks stay small and
    near-constant-sized as the corpus grows, so the self-join is a hash join
    over many tiny buckets.  Recall trade-off (standard for blocked dedup):
    a true pair straddling a band boundary or differing in its first 8
    normalized chars is missed; such pairs are MinHash-LSH's job
    (d_minhash_lsh_pairs).  The 64-char head bounds the DP cost per pair.
    """
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        "lang",
        (F.col("n_chars").cast("long") / LEV_BAND_CHARS).cast("long").alias("band"),
        F.substring(F.lower(F.trim("text")), 1, 64).alias("head"),
    ).withColumn("pfx", F.substring("head", 1, LEV_PREFIX_CHARS))
    a = d.select(
        F.col("doc_id").alias("doc1"), "lang", "band", "pfx", F.col("head").alias("h1")
    )
    b = d.select(
        F.col("doc_id").alias("doc2"), "lang", "band", "pfx", F.col("head").alias("h2")
    )
    return (
        a.join(b, ["lang", "band", "pfx"])
        .filter(F.col("doc1") < F.col("doc2"))
        .withColumn("edit_dist", F.levenshtein("h1", "h2").cast("long"))
        .filter(F.col("edit_dist") <= 12)
        .select("doc1", "doc2", "edit_dist")
        .orderBy("doc1", "doc2")
    )


register(
    "d_fuzzy_levenshtein",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(n_chars // {LEV_BAND_CHARS} AS BIGINT) AS band,
             substr(lower(trim(text, ' ')), 1, 64) AS head,
             substr(lower(trim(text, ' ')), 1, {LEV_PREFIX_CHARS}) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.band = b.band AND a.pfx = b.pfx
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 12
    ORDER BY doc1, doc2
    """,
    tables=("documents",),
)(_d_fuzzy_levenshtein)


def _d_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within sign-LSH buckets
    (operators/similarity.py:embedding_near_dup_pairs) — the scale path:
    the self-join key is the hyperplane bucket id (~n/2^bits rows each),
    never a label/semantic block that can cover the whole corpus.  The
    bucket width defaults from the corpus count (adaptive_lsh_bits), so
    the operator stays scale-safe without tuning; the oracle replicates
    both the count-derived width and the exact bucket arithmetic
    (functions/vectors.py), so recall trade-offs are identical on both
    engines."""
    from polars_view_spark.operators.similarity import embedding_near_dup_pairs

    t = load_tables(spark, sf_dir, "embeddings")
    return (
        embedding_near_dup_pairs(
            t["embeddings"], "vec_id", "embedding",
            threshold=NEAR_DUP_COS, dim=EMB_DIM,
        )
        .orderBy("id1", "id2")
    )


register(
    "d_embedding_near_dup",
    oracle=f"""
    WITH k AS (
      SELECT vec_id, embedding,
             {duck_lsh_bucket_masked_sql("embedding", duck_adaptive_lsh_bits_sql("embeddings"), EMB_DIM)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round({duck_cosine_sql("a.embedding", "b.embedding")}, 6) AS cosine
    FROM k a JOIN k b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({duck_cosine_sql("a.embedding", "b.embedding")}, 6) >= {NEAR_DUP_COS}
    ORDER BY id1, id2
    """,
    tables=("embeddings",),
)(_d_embedding_near_dup)

SEMDEDUP_SEED_MOD = 37
SEMDEDUP_SCALE = 1000
SEMDEDUP_MAX_SEEDS = 64
SEMDEDUP_MAX_CELL = 10_000


def _d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py:semantic_dedup,
    after Abbas et al. arXiv:2303.09540): deterministic-seed cell assignment
    → within-cell cosine pairs → first-occurrence-wins keep verdict.  The
    oracle replays every stage (the assignment CTEs are shared with
    s_ann_ivf_topk), so the keep/drop decision is value-hash checked."""
    from polars_view_spark.operators.similarity import semantic_dedup

    t = load_tables(spark, sf_dir, "embeddings")
    return semantic_dedup(
        t["embeddings"], "vec_id", "embedding",
        threshold=NEAR_DUP_COS, seed_mod=SEMDEDUP_SEED_MOD,
        scale=SEMDEDUP_SCALE, max_seeds=SEMDEDUP_MAX_SEEDS,
        max_cell_size=SEMDEDUP_MAX_CELL,
    ).orderBy("vec_id")


register(
    "d_semantic_dedup",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {SEMDEDUP_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cell, qv AS sv FROM qz
              WHERE vec_id % {SEMDEDUP_SEED_MOD} = 0 ORDER BY vec_id LIMIT {SEMDEDUP_MAX_SEEDS}),
    dists AS (
      SELECT a.vec_id, s.cell,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (a.qv[i] - s.sv[i]) * (a.qv[i] - s.sv[i]))) AS d
      FROM qz a CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists) t
      WHERE rn = 1
    ),
    sized AS (
      SELECT a.vec_id, a.cell, e.embedding,
             COUNT(*) OVER (PARTITION BY a.cell) > {SEMDEDUP_MAX_CELL} AS cell_capped
      FROM assigned a JOIN embeddings e USING (vec_id)
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM sized a JOIN sized b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE NOT a.cell_capped AND NOT b.cell_capped
        AND round({duck_cosine_sql("a.embedding", "b.embedding")}, 6) >= {NEAR_DUP_COS}
    )
    SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell, s.cell_capped,
           (d.vec_id IS NULL) AS kept
    FROM sized s LEFT JOIN dropped d USING (vec_id)
    ORDER BY vec_id
    """,
    tables=("embeddings",),
)(_d_semantic_dedup)


INCR_NEW_MOD = 10  # docs with doc_id % 10 == 0 play the "new batch" role


def _d_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: the new-batch docs (``doc_id % 10 == 0``)
    paired against the full corpus via a broadcast of the batch's band
    buckets (operators/dedup.py:minhash_lsh_pairs_incremental) — the daily-
    crawl-vs-corpus mode.  Oracle: the full pairing filtered to pairs that
    touch a new doc."""
    from polars_view_spark.operators.dedup import minhash_lsh_pairs_incremental

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    new = d.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    base = d.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    return minhash_lsh_pairs_incremental(base, new, "doc_id", "text", JACCARD_T).orderBy(
        "doc1", "doc2"
    )


register(
    "d_minhash_incremental",
    oracle=f"""
    WITH allpairs AS ({_duck_minhash_oracle()})
    SELECT doc1, doc2, jaccard FROM allpairs
    WHERE doc1 % {INCR_NEW_MOD} = 0 OR doc2 % {INCR_NEW_MOD} = 0
    ORDER BY doc1, doc2
    """,
    tables=("documents",),
)(_d_minhash_incremental)


def _d_minhash_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index incremental MinHash (operators/dedup.py:
    minhash_build_index / minhash_query_index): the standing corpus's
    signatures and shingles are written ONCE, then the new batch
    (``doc_id % 10 == 0``) is paired against the index with zero
    corpus-side recompute — the production form of
    ``d_minhash_incremental``, whose self-contained path re-shingles the
    corpus on every call.  Held to the SAME value-hash oracle as
    ``d_minhash_incremental`` — the persisted path must reproduce the
    recompute path bit-for-bit, so a signature lost or a shingle
    corrupted in the parquet round-trip breaks the hash.  Query-side plan
    is gated to contain NO corpus scan (tests/test_plans.py)."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.dedup import (
        minhash_build_index,
        minhash_query_index,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    new = d.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    base = d.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    idx = os.path.join(_scratch_dir("minhash_index", sf_dir), "mh")
    minhash_build_index(base, idx, "doc_id", "text")
    return minhash_query_index(
        spark, new, idx, "doc_id", "text", JACCARD_T
    ).orderBy("doc1", "doc2")


register(
    "d_minhash_index_query",
    oracle=f"""
    WITH allpairs AS ({_duck_minhash_oracle()})
    SELECT doc1, doc2, jaccard FROM allpairs
    WHERE doc1 % {INCR_NEW_MOD} = 0 OR doc2 % {INCR_NEW_MOD} = 0
    ORDER BY doc1, doc2
    """,
    tables=("documents",),
)(_d_minhash_index_query)


def _d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the MinHash pair graph: iterative min-label
    propagation (operators/dedup.py:dedup_clusters) — the step that turns
    pairs into dedup groups.  The oracle computes the same connected
    components with a recursive CTE over the identical pair set."""
    from polars_view_spark.operators.dedup import dedup_clusters

    t = load_tables(spark, sf_dir, "documents")
    return dedup_clusters(t["documents"], "doc_id", "text", JACCARD_T).orderBy("doc_id")


register(
    "d_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_duck_minhash_oracle()}),
    edges AS (
      SELECT doc1 AS src, doc2 AS dst FROM pairs
      UNION ALL
      SELECT doc2 AS src, doc1 AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
    )
    SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach
    GROUP BY v ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_dedup_clusters)


def _d_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compaction (operators/dedup.py:dedup_apply): drop every
    non-representative near-dup cluster member, keep singletons and
    representatives — pairs → clusters → deduplicated corpus, the end
    product a pipeline actually trains on."""
    from polars_view_spark.operators.dedup import dedup_apply

    t = load_tables(spark, sf_dir, "documents")
    return (
        dedup_apply(t["documents"], "doc_id", "text", JACCARD_T)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


register(
    "d_dedup_apply",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_duck_minhash_oracle()}),
    edges AS (
      SELECT doc1 AS src, doc2 AS dst FROM pairs
      UNION ALL
      SELECT doc2 AS src, doc1 AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
    ),
    members AS (
      SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM members WHERE doc_id <> cluster_id)
    ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_dedup_apply)


# deterministic per-language sampling rates (percent) — stratified corpus
# downsampling, e.g. rebalancing an English-heavy crawl
SAMPLE_RATES = {"en": 50, "de": 30, "es": 30, "fr": 30, "zh": 30}
_SAMPLE_DEFAULT = 10


def _sample_case(col: str) -> str:
    whens = " ".join(f"WHEN '{lg}' THEN {r}" for lg, r in sorted(SAMPLE_RATES.items()))
    return f"(CASE {col} {whens} ELSE {_SAMPLE_DEFAULT} END)"


def _x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff
    ``md5-hash(doc_id) mod 100 < rate(lang)``.  Pure projection + filter —
    ZERO shuffles, trivially parallel at any scale, reproducible across
    runs and engines (the md5→BIGINT bridge is the proven cross-engine
    hash).  The per-stratum rate table is the training-mix knob."""
    t = load_tables(spark, sf_dir, "documents")
    h = "conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) % 100"
    return (
        t["documents"]
        .withColumn("bucket", F.expr(h).cast("long"))
        .filter(F.col("bucket") < F.expr(_sample_case("lang")))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


register(
    "x_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) AS bucket
    FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
          < {_sample_case("lang")}
    ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_stratified_sample)


VOCAB_TOP_K = 10


VOCAB_TOPK_BUCKETS = 32


LM_REF_LANG = "en"  # the LM-training slice (CCNet trains on Wikipedia; the
# en-labeled docs play that role on the synthetic corpus)


def _x_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score
    (operators/textstats.py:ngram_lm_score, after Wenzek et al.
    arXiv:1911.00359): model trained on the ``lang='en'`` slice via a
    lossless two-phase top-k, broadcast to an explode → left-join → groupBy
    scorer.  The oracle replays the model cut and the add-one-smoothed
    log-prob arithmetic; the average is rounded to 4 decimals — COARSER
    than the usual 6 on purpose (Java Math.log is permitted 1-ulp error vs
    libm, which measurably flips a 6-dp boundary; do not re-tighten)."""
    from polars_view_spark.operators.textstats import LM_TOP_NGRAMS, ngram_lm_score

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    return ngram_lm_score(
        d, d.filter(F.col("lang") == LM_REF_LANG), "doc_id", "text",
        top_ngrams=LM_TOP_NGRAMS,
    ).orderBy("doc_id")


from polars_view_spark.operators.textstats import LM_TOP_NGRAMS as _LM_V  # noqa: E402

register(
    "x_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {duck_tokens_sql("text")} AS t FROM documents
    ),
    refg AS (
      SELECT unnest({duck_ngrams_sql("t", 2)}) AS g
      FROM toks WHERE lang = '{LM_REF_LANG}'
    ),
    counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM refg GROUP BY g),
    model AS (
      SELECT g, c FROM (
        SELECT g, c, ROW_NUMBER() OVER (ORDER BY c DESC, g) AS r FROM counts) x
      WHERE r <= {_LM_V}
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM model),
    docg AS (
      SELECT doc_id, unnest({duck_ngrams_sql("t", 2)}) AS g FROM toks
    ),
    lp AS (
      SELECT doc_id, ln((COALESCE(m.c, 0) + 1) / (tot.total + {_LM_V}.0)) AS l
      FROM docg LEFT JOIN model m USING (g) CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(-avg(l) + 1e-9, 4) AS avg_neg_logprob
      FROM lp GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.avg_neg_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id
    """,
    tables=("documents",),
)(_x_lm_score)


def _x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/textstats.py:dsir_weights,
    Xie et al. arXiv:2302.03169): hashed-bigram importance of every
    corpus doc against a target-domain slice (doc_id % 7 = 0 — a
    deterministic stand-in for 'the domain we want more of').  Buckets
    use the md5 bridge so the oracle reproduces them exactly; the two
    bounded bucket models are replayed in DuckDB with the identical
    add-one-smoothed ln arithmetic, rounded to 4 decimals (the
    x_lm_score precedent — Java Math.log tolerates 1-ulp vs libm; do
    not re-tighten)."""
    from polars_view_spark.operators.textstats import dsir_weights

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    return dsir_weights(d, d.filter(F.col("doc_id") % 7 == 0)).orderBy("doc_id")


def _duck_dsir_oracle() -> str:
    from polars_view_spark.operators.textstats import DSIR_BUCKETS as _DSIR_V

    return f"""
    WITH toks AS (
      SELECT doc_id, {duck_tokens_sql("text")} AS t FROM documents
    ),
    tgtg AS (
      SELECT {duck_hex64_sql("g")} % {_DSIR_V} AS b
      FROM (SELECT unnest({duck_ngrams_sql("t", 2)}) AS g
            FROM toks WHERE doc_id % 7 = 0)
    ),
    rawg AS (
      SELECT {duck_hex64_sql("g")} % {_DSIR_V} AS b
      FROM (SELECT unnest({duck_ngrams_sql("t", 2)}) AS g FROM toks)
    ),
    tgt_counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM tgtg GROUP BY b),
    raw_counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM rawg GROUP BY b),
    tgt_tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tot FROM tgt_counts),
    raw_tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tot FROM raw_counts),
    model AS (
      SELECT COALESCE(t.b, r.b) AS b,
             COALESCE(ln((CAST(t.c AS DOUBLE) + 1) / (tt.tot + {_DSIR_V}.0)),
                      -ln(tt.tot + {_DSIR_V}.0)) AS lp_tgt,
             COALESCE(ln((CAST(r.c AS DOUBLE) + 1) / (rt.tot + {_DSIR_V}.0)),
                      -ln(rt.tot + {_DSIR_V}.0)) AS lp_raw
      FROM tgt_counts t FULL OUTER JOIN raw_counts r ON t.b = r.b
      CROSS JOIN tgt_tot tt CROSS JOIN raw_tot rt
    ),
    docg AS (
      SELECT doc_id, {duck_hex64_sql("g")} % {_DSIR_V} AS b
      FROM (SELECT doc_id, unnest({duck_ngrams_sql("t", 2)}) AS g FROM toks)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(SUM(lp_tgt - lp_raw) + 1e-9, 4) AS log_importance,
             round(AVG(lp_tgt - lp_raw) + 1e-9, 4) AS avg_log_importance
      FROM docg LEFT JOIN model USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
           a.log_importance, a.avg_log_importance
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
    """


register(
    "x_dsir_weights", oracle=_duck_dsir_oracle(), tables=("documents",)
)(_x_dsir_weights)


def _x_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary top-k, TWO-PHASE: explode tokens → one
    (lang, token) count aggregation (map-side partial combine) → per
    (lang, token-hash-bucket) top-k → final top-k over the ≤ k·buckets
    survivors.  The shuffle payload is the distinct vocabulary, and no
    single reducer ever ranks a whole language's vocabulary (a bare
    per-lang window would put ~all tokens of a language on one task at
    100 TB); the pre-filter is lossless — any global top-k token is top-k
    within its own bucket under the same total order."""
    t = load_tables(spark, sf_dir, "documents")
    from polars_view_spark.functions.texthash import tokens_expr
    from pyspark.sql import Window

    counts = (
        t["documents"]
        .select("lang", F.explode(tokens_expr("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = [F.col("n").desc(), F.col("token").asc()]
    wb = Window.partitionBy("lang", "bucket").orderBy(*order)
    w = Window.partitionBy("lang").orderBy(*order)
    return (
        counts.withColumn(
            "bucket", F.pmod(F.hash("token"), F.lit(VOCAB_TOPK_BUCKETS))
        )
        .withColumn("__brank", F.row_number().over(wb))
        .filter(F.col("__brank") <= VOCAB_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= VOCAB_TOP_K)
        .select("lang", "token", "n", "rank")
        .orderBy("lang", "rank")
    )


register(
    "x_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({duck_tokens_sql("text")}) AS token FROM documents
    ),
    counts AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      FROM counts
    )
    SELECT lang, token, n, CAST(rank AS BIGINT) AS rank FROM ranked
    WHERE rank <= {VOCAB_TOP_K} ORDER BY lang, rank
    """,
    tables=("documents",),
)(_x_vocab_topk)


# denylist scrubbing: mask benchmark/contamination phrases before training —
# the redaction pattern also covers PII-style masking (same plan shape)
SCRUB_TERMS = ("hash", "merge", "window")
_SCRUB_RE = "\\b(" + "|".join(SCRUB_TERMS) + ")\\b"


def _x_scrub_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist scrubbing: count and mask denylisted terms per document —
    pure codegen ``regexp_replace``/``regexp_extract_all`` projection, zero
    shuffles.  The masked text is surfaced as an md5 so the oracle verifies
    every masked byte without hauling full texts through the compare."""
    t = load_tables(spark, sf_dir, "documents")
    # Spark string literals eat backslashes (Hive-style) → double them
    spark_re = _SCRUB_RE.replace("\\", "\\\\")
    return (
        t["documents"]
        .select(
            "doc_id",
            F.expr(f"CAST(size(regexp_extract_all(text, '{spark_re}', 0)) AS BIGINT)").alias(
                "n_hits"
            ),
            F.expr(f"md5(regexp_replace(text, '{spark_re}', '[X]'))").alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


register(
    "x_scrub_denylist",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SCRUB_RE}')) AS BIGINT) AS n_hits,
           md5(regexp_replace(text, '{_SCRUB_RE}', '[X]', 'g')) AS scrubbed_md5
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_scrub_denylist)


# PII injection prelude: the synthetic corpus carries no real PII, so the
# entry deterministically plants an email / IPv4 / phone in a doc_id-keyed
# subset of documents, then redacts them back out.  The expression is plain
# ANSI (CASE/concat/lpad/CAST AS STRING) so the SAME string runs on both
# engines — injection cannot drift between Spark and the oracle.
_PII_SEED_SQL = """concat(text,
  CASE WHEN doc_id % 3 = 0
       THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com')
       ELSE '' END,
  CASE WHEN doc_id % 4 = 0
       THEN concat(' from 10.', CAST(doc_id % 256 AS STRING), '.0.',
                   CAST(doc_id % 100 AS STRING))
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'),
                   '-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
       ELSE '' END)"""


def _x_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/textstats.py:redact_pii): mask emails /
    IPv4s / phone numbers and count each category — zero-shuffle codegen
    projection, the compliance pass before sequence packing.  Surfaces the
    masked text as an md5 so the oracle verifies every redacted byte."""
    from polars_view_spark.operators.textstats import redact_pii

    t = load_tables(spark, sf_dir, "documents")
    seeded = t["documents"].select("doc_id", F.expr(_PII_SEED_SQL).alias("text"))
    return (
        redact_pii(seeded, "text")
        .select("doc_id", "n_email", "n_ipv4", "n_phone",
                F.expr("md5(redacted)").alias("redacted_md5"))
        .orderBy("doc_id")
    )


def _duck_pii_oracle() -> str:
    from polars_view_spark.operators.textstats import duck_redact_sql

    counts, red = duck_redact_sql("text")
    cols = ", ".join(counts)
    return f"""
    WITH seeded AS (SELECT doc_id, {_PII_SEED_SQL} AS text FROM documents)
    SELECT doc_id, {cols}, md5({red}) AS redacted_md5
    FROM seeded ORDER BY doc_id
    """


register(
    "x_pii_redact", oracle=_duck_pii_oracle(), tables=("documents",)
)(_x_pii_redact)


def _d_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span removal (operators/dedup.py:span_dedup): fixed-width
    word chunks, global first-occurrence keep, per-doc reassembly — one
    shuffle end-to-end.  Surfaces the cleaned text as an md5 so the oracle
    verifies every surviving byte, not just the counts."""
    from polars_view_spark.operators.dedup import span_dedup

    t = load_tables(spark, sf_dir, "documents")
    return (
        span_dedup(t["documents"], "doc_id", "text")
        .select(
            F.col("id").alias("doc_id"), "n_chunks", "n_kept",
            F.expr("md5(clean_text)").alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def _duck_span_oracle() -> str:
    from polars_view_spark.operators.dedup import SPAN_CHUNK_WORDS

    c = SPAN_CHUNK_WORDS
    toks = duck_tokens_sql("text")
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(ceil(len({toks}) / {c}.0) AS BIGINT)),
               i -> array_to_string(list_slice({toks}, i * {c} + 1, i * {c} + {c}), ' ')
             ) AS chunks
      FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx, chunks[i] AS chunk
      FROM base, unnest(generate_series(1, len(chunks))) AS t(i)
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE rn = 1), '')) AS clean_md5
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """


register(
    "d_span_dedup", oracle=_duck_span_oracle(), tables=("documents",)
)(_d_span_dedup)


# Snapshot maintenance fixtures: a deterministic 80% "old snapshot" of
# orders plus a change batch (every 3rd key: price bump, every 12th: delete
# marker) derived from the same table — pure ANSI fragments shared by both
# engines so the fixture cannot drift.
_SNAP_BASE_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
    "FROM orders WHERE o_orderkey % 10 < 8"
)
_SNAP_CHG_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, "
    "round(o_totalprice * 1.1 + 1e-6, 2) AS o_totalprice, "
    "(o_orderkey % 12 = 0) AS is_delete "
    "FROM orders WHERE o_orderkey % 3 = 0"
)
_SNAP_MERGED_SQL = f"""
    SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice
    FROM ({_SNAP_BASE_SQL}) b FULL OUTER JOIN ({_SNAP_CHG_SQL}) c
      ON b.o_orderkey = c.o_orderkey
    WHERE NOT COALESCE(c.is_delete, FALSE)
"""


def _snap_frames(spark: SparkSession, sf_dir: str):
    load_tables(spark, sf_dir, "orders")
    return spark.sql(_SNAP_BASE_SQL), spark.sql(_SNAP_CHG_SQL)


def _x_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (operators/similarity.py:quantize_int8):
    per-vector scale, bit-exact codes (md5 over the code string), and a
    self-asserting dequantization-error bound — zero-shuffle codegen."""
    from polars_view_spark.operators.similarity import quantize_int8

    t = load_tables(spark, sf_dir, "embeddings")
    return (
        quantize_int8(t["embeddings"])
        .select(
            "vec_id",
            F.expr("round(scale, 6)").alias("scale_r"),
            F.expr(
                "md5(array_join(transform(q, v -> CAST(v AS STRING)), ','))"
            ).alias("q_md5"),
            F.expr("max_abs_err <= 0.5 / scale + 1e-9").alias("recon_ok"),
        )
        .orderBy("vec_id")
    )


_QUANT_DUCK_X = "CAST(v AS DOUBLE)"
_QUANT_DUCK_MAXABS = f"list_max(list_transform(embedding, v -> abs({_QUANT_DUCK_X})))"

register(
    "x_embedding_quantize",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
             CASE WHEN {_QUANT_DUCK_MAXABS} = 0.0 THEN 1.0
                  ELSE 127.0 / {_QUANT_DUCK_MAXABS} END AS s
      FROM embeddings
    ), coded AS (
      SELECT vec_id, embedding, s,
             list_transform(embedding,
               v -> CAST(round({_QUANT_DUCK_X} * s + 1e-9) AS INTEGER)) AS q
      FROM scaled
    )
    SELECT vec_id,
           round(s, 6) AS scale_r,
           md5(array_to_string(q, ',')) AS q_md5,
           list_max(list_transform(range(1, len(embedding) + 1),
             i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] / s)))
             <= 0.5 / s + 1e-9 AS recon_ok
    FROM coded ORDER BY vec_id
    """,
    tables=("embeddings",),
)(_x_embedding_quantize)


def _x_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid label audit
    (operators/similarity.py:label_centroid_assign): re-assign every
    vector to its nearest per-label centroid and aggregate the confusion
    matrix — the supervised curation primitive for labeled corpora.  One
    bounded aggregate + literal-inlined centroids + flat codegen argmin;
    the oracle recomputes the identical integer sums/counts data-driven
    (cross join over the ≤64-label stats row set) and replays the
    fixed-order distance arithmetic, so the confusion counts value-hash."""
    from polars_view_spark.operators.similarity import label_centroid_assign

    t = load_tables(spark, sf_dir, "embeddings")
    out = label_centroid_assign(t["embeddings"], dim=EMB_DIM)
    return (
        out.groupBy("label", "assigned")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("assigned").cast("int").alias("assigned"),
            "n",
        )
        .orderBy("label", "assigned")
    )


def _label_centroid_oracle() -> str:
    scale = 1000
    sums = ",\n             ".join(
        f"SUM(CAST(round(embedding[{d + 1}]::DOUBLE * {scale}) AS BIGINT)) AS s{d}"
        for d in range(EMB_DIM)
    )
    qs = ",\n             ".join(
        f"CAST(round(embedding[{d + 1}]::DOUBLE * {scale}) AS BIGINT) AS q{d}"
        for d in range(EMB_DIM)
    )
    dist = " + ".join(
        f"(CAST(q.q{d} AS DOUBLE) - (CAST(st.s{d} AS DOUBLE) / st.c))"
        f" * (CAST(q.q{d} AS DOUBLE) - (CAST(st.s{d} AS DOUBLE) / st.c))"
        for d in range(EMB_DIM)
    )
    return f"""
    WITH stats AS (
      SELECT label, COUNT(*) AS c,
             {sums}
      FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
      GROUP BY label
    ),
    q AS (
      SELECT vec_id, label,
             {qs}
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    dists AS (
      SELECT q.vec_id, q.label, st.label AS cand,
             ({dist}) AS d
      FROM q CROSS JOIN stats st
    ),
    best AS (
      SELECT vec_id, label, cand AS assigned FROM (
        SELECT vec_id, label, cand,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cand) AS rn
        FROM dists) t
      WHERE rn = 1
    )
    SELECT CAST(label AS INT) AS label, CAST(assigned AS INT) AS assigned,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM best GROUP BY label, assigned ORDER BY label, assigned
    """


register(
    "x_label_centroid",
    oracle=_label_centroid_oracle(),
    tables=("embeddings",),
)(_x_label_centroid)


RP_OUT_DIM = 16


def _x_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL-style random projection 64 → 16 integer components
    (operators/similarity.py:random_projection): the width-compression
    step ahead of ANN/clustering, pure zero-shuffle codegen; components
    are all-integer so the oracle reproduces them bit-exactly (md5 over
    the component string, same compaction as x_embedding_quantize)."""
    from polars_view_spark.operators.similarity import random_projection

    t = load_tables(spark, sf_dir, "embeddings")
    return (
        random_projection(t["embeddings"], out_dim=RP_OUT_DIM, dim=EMB_DIM)
        .select(
            "vec_id",
            F.expr(
                "md5(array_join(transform(rp, v -> CAST(v AS STRING)), ','))"
            ).alias("rp_md5"),
        )
        .orderBy("vec_id")
    )


register(
    "x_random_projection",
    oracle=(
        "SELECT vec_id, md5(array_to_string(["
        + ", ".join(
            rp_projection_sql("embedding", j, EMB_DIM)
            for j in range(RP_OUT_DIM)
        )
        + "], ',')) AS rp_md5 FROM embeddings ORDER BY vec_id"
    ),
    tables=("embeddings",),
)(_x_random_projection)


def _t_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE (operators/snapshot.py:merge_upsert): change batch
    applied to an orders snapshot — update / insert / delete in one
    full-outer join that AQE broadcasts when the batch is small."""
    from polars_view_spark.operators.snapshot import merge_upsert

    base, chg = _snap_frames(spark, sf_dir)
    return merge_upsert(base, chg, ["o_orderkey"], "is_delete").orderBy("o_orderkey")


register(
    "t_merge_upsert",
    oracle=f"{_SNAP_MERGED_SQL} ORDER BY o_orderkey",
    tables=("orders",),
)(_t_merge_upsert)


def _t_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC audit (operators/snapshot.py:snapshot_diff): diff the
    old snapshot against the merged one — the emitted insert/delete/update
    rows are exactly the change batch merge_upsert just applied, so the
    entry also closes the loop on the MERGE semantics."""
    from polars_view_spark.operators.snapshot import merge_upsert, snapshot_diff

    base, chg = _snap_frames(spark, sf_dir)
    merged = merge_upsert(base, chg, ["o_orderkey"], "is_delete")
    return snapshot_diff(base, merged, ["o_orderkey"]).orderBy("o_orderkey")


register(
    "t_snapshot_diff",
    oracle=f"""
    WITH merged AS ({_SNAP_MERGED_SQL}),
    labeled AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                            AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                            AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                  THEN 'update' END AS change_type,
             o.o_custkey AS old_o_custkey,
             o.o_orderstatus AS old_o_orderstatus,
             o.o_totalprice AS old_o_totalprice,
             n.o_custkey AS new_o_custkey,
             n.o_orderstatus AS new_o_orderstatus,
             n.o_totalprice AS new_o_totalprice
      FROM ({_SNAP_BASE_SQL}) o FULL OUTER JOIN merged n
        ON o.o_orderkey = n.o_orderkey
    )
    SELECT * FROM labeled WHERE change_type IS NOT NULL ORDER BY o_orderkey
    """,
    tables=("orders",),
)(_t_snapshot_diff)


def _x_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality rules
    (operators/textstats.py:gopher_quality) — the first-pass scan filter of
    a pre-training pipeline; zero shuffles, pure codegen."""
    from polars_view_spark.operators.textstats import gopher_quality

    t = load_tables(spark, sf_dir, "documents")
    return gopher_quality(t["documents"]).select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "dup_2gram_frac",
        "mean_word_len",
        "frac_alpha_words",
        "passes_gopher",
    ).orderBy("doc_id")


def _duck_gopher_oracle() -> str:
    from polars_view_spark.operators.textstats import (
        GOPHER_MAX_DUP_2GRAM_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    toks = "regexp_split_to_array(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+')"
    nw = f"len({toks})"
    dup_w = f"1.0 - len(list_distinct({toks})) / CAST({nw} AS DOUBLE)"
    dup_2g = (
        f"CASE WHEN {nw} >= 2 THEN "
        f"1.0 - len({duck_shingles_sql('text', 2)}) / CAST({nw} - 1 AS DOUBLE) "
        f"ELSE 0.0 END"
    )
    mwl = (
        "length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))"
        f" / CAST(greatest({nw}, 1) AS DOUBLE)"
    )
    alpha = (
        f"len(list_filter({toks}, x -> regexp_matches(x, '[a-z]')))"
        f" / CAST(greatest({nw}, 1) AS DOUBLE)"
    )
    return f"""
    SELECT doc_id,
           CAST({nw} AS BIGINT) AS n_words,
           round({dup_w}, 6) AS dup_word_frac,
           round({dup_2g}, 6) AS dup_2gram_frac,
           round({mwl}, 6) AS mean_word_len,
           round({alpha}, 6) AS frac_alpha_words,
           (({nw} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND ({dup_2g}) <= {GOPHER_MAX_DUP_2GRAM_FRAC}
            AND ({mwl}) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
            AND ({alpha}) >= {GOPHER_MIN_ALPHA_WORD_FRAC}) AS passes_gopher
    FROM documents ORDER BY doc_id
    """


register(
    "x_gopher_quality", oracle=_duck_gopher_oracle(), tables=("documents",)
)(_x_gopher_quality)


#: packing shards per language — the shard key the pack window partitions
#: on is (lang × doc_id mod N).  At 100 TB, N scales with the cluster so
#: the per-shard cumsum stays parallel (5 bare languages would mean 5
#: reducers owning the whole corpus); each shard is an independent token
#: stream, exactly how real pre-training jobs pack per output file.
PACK_SHARDS_PER_LANG = 4


def _x_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py:pack_token_stream):
    per-shard token-stream chunking into fixed context windows; reports
    (pack_shard, chunk_id, n_docs, n_tokens) per chunk."""
    from polars_view_spark.operators.packing import CONTEXT_TOKENS, pack_token_stream

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"].withColumn(
        "pack_shard",
        F.expr(f"concat(lang, '/', CAST(doc_id % {PACK_SHARDS_PER_LANG} AS STRING))"),
    )
    out = pack_token_stream(docs, capacity=CONTEXT_TOKENS, shard_col="pack_shard")
    return out.select(
        "pack_shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("pack_shard", "chunk_id")


def _duck_pack_oracle() -> str:
    from polars_view_spark.operators.packing import CONTEXT_TOKENS as C

    ntok = f"len(regexp_extract_all(text, '{TOKEN_REGEX}'))"
    shard = f"lang || '/' || CAST(doc_id % {PACK_SHARDS_PER_LANG} AS VARCHAR)"
    return f"""
    WITH base AS (
      SELECT {shard} AS pack_shard, doc_id, CAST({ntok} AS BIGINT) AS n_tokens
      FROM documents WHERE {ntok} > 0
    ), offs AS (
      SELECT pack_shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id) AS end_off
      FROM base
    ), spanned AS (
      SELECT pack_shard, end_off, end_off - n_tokens AS start_off,
             CAST(unnest(generate_series(
               CAST(floor((end_off - n_tokens) / {C}.0) AS BIGINT),
               CAST(floor((end_off - 1) / {C}.0) AS BIGINT))) AS BIGINT) AS chunk_id
      FROM offs
    )
    SELECT pack_shard, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(least(end_off, (chunk_id + 1) * {C})
                    - greatest(start_off, chunk_id * {C})) AS BIGINT) AS n_tokens
    FROM spanned GROUP BY pack_shard, chunk_id ORDER BY pack_shard, chunk_id
    """


register(
    "x_sequence_pack", oracle=_duck_pack_oracle(), tables=("documents",)
)(_x_sequence_pack)


#: benchmark membership predicate for the contamination scan — stands in
#: for "doc_id appears in the eval-suite manifest"
CONTAM_BENCH_MOD = 97
CONTAM_MIN_OVERLAP = 3


def _d_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (operators/dedup.py:contamination_pairs):
    corpus docs sharing ≥ N distinct word-shingles with any benchmark doc.
    Benchmark side is broadcast — the corpus never shuffles."""
    from polars_view_spark.operators.dedup import contamination_pairs

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    out = contamination_pairs(docs, bench, min_overlap=CONTAM_MIN_OVERLAP)
    return out.select(
        F.col("doc").alias("doc_id"),
        "bench_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
    ).orderBy("doc_id", "bench_id")


def _duck_contamination_oracle() -> str:
    sh = duck_shingles_sql("text")
    return f"""
    WITH c AS (
      SELECT doc_id AS doc, unnest({sh}) AS shingle FROM documents
    ), b AS (
      SELECT doc_id AS bench_id, unnest({sh}) AS shingle FROM documents
      WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    )
    SELECT c.doc AS doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM c JOIN b USING (shingle)
    WHERE c.doc <> b.bench_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {CONTAM_MIN_OVERLAP}
    ORDER BY doc_id, bench_id
    """


register(
    "d_contamination", oracle=_duck_contamination_oracle(), tables=("documents",)
)(_d_contamination)


def _x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixture resampling
    (operators/packing.py:mixture_resample): each doc appears
    floor(rate(source)) times plus a deterministic md5-bucket extra for the
    fractional part — upsampling AND downsampling in one zero-shuffle op."""
    from polars_view_spark.operators.packing import mixture_resample

    t = load_tables(spark, sf_dir, "documents")
    return mixture_resample(t["documents"]).orderBy("doc_id", "epoch")


def _duck_mixture_oracle() -> str:
    from polars_view_spark.operators.packing import epochs_case_sql

    rate = epochs_case_sql("source")
    return f"""
    WITH base AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
               AS bucket,
             {rate} AS rate
      FROM documents
    ), counted AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS BIGINT)
               + CASE WHEN bucket < CAST(round((rate - floor(rate)) * 100, 0) AS BIGINT)
                      THEN 1 ELSE 0 END AS copies
      FROM base
    )
    SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
    FROM counted WHERE copies > 0
    ORDER BY doc_id, epoch
    """


register(
    "x_mixture_sample", oracle=_duck_mixture_oracle(), tables=("documents",)
)(_x_mixture_sample)


def _x_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mC4/T5 temperature source balancing
    (operators/packing.py:temperature_resample): output shares follow
    sqrt(n_s)/Σ sqrt(n_t) — rates are DATA-DRIVEN (one tiny broadcast
    aggregate), unlike x_mixture_sample's static config rates.  sqrt is
    quantized to integer micros and the rate is a fixed four-node double
    expression (each node IEEE exactly rounded ⇒ bit-identical per
    engine); bucket/epoch math is integer — hash-exact oracle."""
    from polars_view_spark.operators.packing import temperature_resample

    t = load_tables(spark, sf_dir, "documents")
    return temperature_resample(t["documents"]).orderBy("doc_id", "epoch")


_TEMPERATURE_ORACLE = """
WITH tagged AS (
  SELECT doc_id, source, COALESCE(source, '__null_source__') AS src
  FROM documents
), stats AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(floor(sqrt(COUNT(*)) * 1000000) AS BIGINT) AS sq
  FROM tagged GROUP BY src
), totals AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n_total,
         CAST(SUM(sq) AS BIGINT) AS sq_total
  FROM stats
), base AS (
  SELECT d.doc_id, d.source,
         (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
           AS bucket,
         (CAST(s.sq AS DOUBLE) * CAST(t.n_total AS DOUBLE))
           / (CAST(t.sq_total AS DOUBLE) * CAST(s.n_s AS DOUBLE)) AS rate
  FROM tagged d JOIN stats s USING (src) CROSS JOIN totals t
), counted AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS BIGINT)
           + CASE WHEN bucket < CAST(floor(rate * 100) AS BIGINT) % 100
                  THEN 1 ELSE 0 END AS copies
  FROM base
)
SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
FROM counted WHERE copies > 0
ORDER BY doc_id, epoch
"""


register(
    "x_temperature_sample", oracle=_TEMPERATURE_ORACLE, tables=("documents",)
)(_x_temperature_sample)


def _x_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token budgeting
    (operators/packing.py:token_budget_cap): keep docs in id order until
    the source's running token total exceeds the budget.  Pure integer
    window cumsum — bit-identical across engines."""
    from polars_view_spark.operators.packing import TOKEN_BUDGET, token_budget_cap

    t = load_tables(spark, sf_dir, "documents")
    return (
        token_budget_cap(t["documents"], budget=TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


def _duck_budget_oracle() -> str:
    from polars_view_spark.operators.packing import TOKEN_BUDGET

    ntok = f"len(regexp_extract_all(text, '{TOKEN_REGEX}'))"
    return f"""
    WITH c AS (
      SELECT doc_id, source, CAST({ntok} AS BIGINT) AS n_tokens,
             SUM(CAST({ntok} AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id) AS cum_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET} ORDER BY doc_id
    """


register(
    "x_token_budget", oracle=_duck_budget_oracle(), tables=("documents",)
)(_x_token_budget)


#: BM25 query — terms drawn from the synthetic vocabulary
BM25_QUERY = ("data", "query", "window")
BM25_TOPK = 20


def _s_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/retrieval.py:bm25_topk): postings
    filtered to the query before the shuffle, stats broadcast, top-k via
    TakeOrderedAndProject.  Ranked on the rounded score (id tiebreak) so
    ordering is engine-reproducible."""
    from polars_view_spark.operators.retrieval import bm25_topk

    t = load_tables(spark, sf_dir, "documents")
    return bm25_topk(t["documents"], BM25_QUERY, k=BM25_TOPK)


def _duck_bm25_oracle() -> str:
    from polars_view_spark.operators.retrieval import BM25_B, BM25_K1

    terms = ", ".join(f"'{t.lower()}'" for t in BM25_QUERY)
    _TOKS = duck_tokens_sql("text")  # single-sourced with tokens_expr
    return f"""
    WITH base AS (
      SELECT doc_id AS doc,
             {_TOKS} AS toks,
             CAST(len({_TOKS}) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(dl) / COUNT(*) AS avgdl
      FROM base
    ), tf AS (
      SELECT b.doc, b.dl, u.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM base b, unnest(b.toks) AS u(term)
      WHERE u.term IN ({terms})
      GROUP BY b.doc, b.dl, u.term
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc,
             round(SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                   + {BM25_B} * tf.dl / s.avgdl))) + 1e-9, 4) AS score
      FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
      GROUP BY tf.doc
    )
    SELECT doc AS doc_id, score FROM scored
    ORDER BY score DESC, doc ASC LIMIT {BM25_TOPK}
    """


register(
    "s_bm25_topk", oracle=_duck_bm25_oracle(), tables=("documents",)
)(_s_bm25_topk)


def _x_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic vocabulary: top-5 terms by TF-IDF
    (operators/retrieval.py:tfidf_top_terms).  One tokenize pass reduces
    to a pinned per-(doc, term) count that feeds both aggregates; df + N
    broadcast; bounded per-group window rank."""
    from polars_view_spark.operators.retrieval import tfidf_top_terms

    t = load_tables(spark, sf_dir, "documents")
    return tfidf_top_terms(t["documents"], k=5)


register(
    "x_tfidf_top_terms",
    oracle="""
    WITH w AS (
      SELECT source, doc_id,
             UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
      FROM documents
    ),
    wnz AS (SELECT * FROM w WHERE term <> ''),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM wnz GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM wnz GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / dfreq.df) + 1e-9, 4) AS score
      FROM tf, dfreq, n WHERE tf.term = dfreq.term
    )
    SELECT source, CAST(rn AS INT) AS rank, term, score
    FROM (
      SELECT *, ROW_NUMBER() OVER
               (PARTITION BY source ORDER BY score DESC, term) AS rn
      FROM scored
    ) ranked
    WHERE rn <= 5
    ORDER BY source, rn
    """,
    tables=("documents",),
)(_x_tfidf_top_terms)


def _x_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI rank (operators/textstats.py:bigram_pmi,
    emitting the exact lift ratio — ln-free because Java's Math.log is
    1-ulp off libm at rounding boundaries; ln is monotone so the rank is
    PMI's).  Integer counts + one IEEE division make it exactly
    oracle-able."""
    from polars_view_spark.operators.textstats import bigram_pmi

    t = load_tables(spark, sf_dir, "documents")
    return bigram_pmi(t["documents"], k=20, min_count=5)


register(
    "x_bigram_pmi",
    oracle="""
    WITH w AS (
      SELECT regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+') AS ws
      FROM documents
    ),
    idx AS (
      SELECT ws, UNNEST(generate_series(1, len(ws) - 1)) AS i FROM w
    ),
    bi AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2 FROM idx
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    uc1 AS (SELECT w1 AS wd, COUNT(*) AS c1 FROM bi GROUP BY 1),
    uc2 AS (SELECT w2 AS wd, COUNT(*) AS c2 FROM bi GROUP BY 1),
    n AS (SELECT COUNT(*) AS nb FROM bi)
    SELECT w1, w2, bc.c,
           ROUND(bc.c * 1.0 * n.nb / (uc1.c1 * uc2.c2) + 1e-9, 6) AS lift
    FROM bc, uc1, uc2, n
    WHERE bc.w1 = uc1.wd AND bc.w2 = uc2.wd AND bc.c >= 5
    ORDER BY lift DESC, w1, w2
    LIMIT 20
    """,
    tables=("documents",),
)(_x_bigram_pmi)


def _x_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-iteration Lloyd k-means (k=4) over the embeddings
    table (operators/similarity.py:kmeans_clusters).  Integer quantization
    makes every distance/update exact, so the oracle replays BOTH
    iterations in SQL and the value hash pins the whole trajectory."""
    from polars_view_spark.operators.similarity import kmeans_clusters

    t = load_tables(spark, sf_dir, "embeddings")
    return kmeans_clusters(t["embeddings"], k=4, iterations=2)


def _duck_kmeans_oracle(
    k: int = 4, scale: int = 1_000_000, dim: int = 64, tail: str | None = None
) -> str:
    """Replay the exact k-means trajectory in DuckDB: quantize → init from
    the k lowest ids → (assign, update) × 2 → summarize.  All distance and
    sum arithmetic is on BIGINTs (order-free); the only float ops —
    quantize, the update's round(sum/n), the final norm — use the same
    operand values as Spark, so results are bit-identical.

    ``tail`` overrides the final SELECT (still over the a3 per-vector
    assignment / c2 final centroids CTEs) so composed entries —
    cluster-balanced sampling — reuse the IDENTICAL trajectory SQL
    instead of a drifting copy."""
    it = """
    d{n} AS (
      SELECT qx.vec_id, c.cid,
             SUM((qx.val - c.cval) * (qx.val - c.cval)) AS dist
      FROM qx JOIN c{p} c ON qx.i = c.i
      GROUP BY qx.vec_id, c.cid
    ),
    a{n} AS (
      SELECT vec_id, cid FROM (
        SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{n}
      ) r WHERE rn = 1
    ),
    c{n} AS (
      SELECT a.cid, qx.i,
             CAST(round(SUM(qx.val) * 1.0 / COUNT(*)) AS BIGINT) AS cval
      FROM a{n} a JOIN qx ON a.vec_id = qx.vec_id
      GROUP BY a.cid, qx.i
    )"""
    return (
        f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
      FROM embeddings
    ),
    dims AS (SELECT i FROM generate_series(1, {dim}) t(i)),
    qx AS (SELECT vec_id, i, v[i] AS val FROM q, dims),
    c0r AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT {k}),
    c0i AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v FROM c0r),
    c0 AS (SELECT cid, i, v[i] AS cval FROM c0i, dims),"""
        + it.format(n=1, p=0)
        + ","
        + it.format(n=2, p=1)
        + ","
        # the returned membership is the assignment against the FINAL
        # centroids (c2) — one more assign pass, matching kmeans_clusters'
        # trailing assign(q); c3 is generated by the template but unused
        + it.format(n=3, p=2)
        + (f"\n    {tail}" if tail is not None else f"""
    SELECT CAST(m.cid AS INT) AS cluster_id,
           m.n_members, m.exemplar, nrm.centroid_norm
    FROM (
      SELECT cid, COUNT(*) AS n_members, MIN(vec_id) AS exemplar
      FROM a3 GROUP BY cid
    ) m
    JOIN (
      SELECT cid,
             ROUND(sqrt(CAST(SUM(cval * cval) AS DOUBLE)) / {scale} + 1e-9, 4)
               AS centroid_norm
      FROM c2 GROUP BY cid
    ) nrm ON m.cid = nrm.cid
    ORDER BY cluster_id
    """)
    )


register(
    "x_kmeans_clusters",
    oracle=_duck_kmeans_oracle(),
    tables=("embeddings",),
)(_x_kmeans_clusters)


def _x_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage training-data pipeline END-TO-END
    (operators/packing.py:build_training_mix): Gopher quality filter →
    fingerprint dedup → decontamination → mixture resample → sequence
    packing, composed into one lazy plan — and the oracle replays every
    stage in DuckDB from the same shared fragments, so the driver verifies
    the COMPOSITION, not just the stages."""
    from polars_view_spark.operators.packing import build_training_mix

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    out = build_training_mix(docs, bench)
    return out.select(
        "pack_shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("pack_shard", "chunk_id")


def _duck_gopher_pass() -> str:
    """The Gopher keep/drop predicate in DuckDB SQL — the single duck-side
    mirror of textstats.gopher_verdict_sql, shared by the training-mix
    oracle and the source-quality card."""
    from polars_view_spark.operators.textstats import (
        GOPHER_MAX_DUP_2GRAM_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    toks = "regexp_split_to_array(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+')"
    nw = f"len({toks})"
    dup_2g = (
        f"CASE WHEN {nw} >= 2 THEN "
        f"1.0 - len({duck_shingles_sql('text', 2)}) / CAST({nw} - 1 AS DOUBLE) "
        f"ELSE 0.0 END"
    )
    mwl = (
        "length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))"
        f" / CAST(greatest({nw}, 1) AS DOUBLE)"
    )
    alpha = (
        f"len(list_filter({toks}, x -> regexp_matches(x, '[a-z]')))"
        f" / CAST(greatest({nw}, 1) AS DOUBLE)"
    )
    return (
        f"({nw} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})"
        f" AND ({dup_2g}) <= {GOPHER_MAX_DUP_2GRAM_FRAC}"
        f" AND ({mwl}) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}"
        f" AND ({alpha}) >= {GOPHER_MIN_ALPHA_WORD_FRAC}"
    )


def _duck_training_mix_oracle() -> str:
    from polars_view_spark.operators.packing import (
        CONTEXT_TOKENS as C,
        epochs_case_sql,
    )
    from polars_view_spark.operators.textstats import (
        GOPHER_MAX_DUP_2GRAM_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    gopher_pass = _duck_gopher_pass()
    sh = duck_shingles_sql("text")
    rate = epochs_case_sql("source")
    ntok = f"len(regexp_extract_all(text, '{TOKEN_REGEX}'))"
    shards = "4"
    return f"""
    WITH quality AS (
      SELECT doc_id, text, lang, source FROM documents WHERE {gopher_pass}
    ), fp AS (
      SELECT *, md5(regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
             AS fingerprint
      FROM quality
    ), deduped AS (
      SELECT doc_id, text, lang, source FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp) t WHERE rn = 1
    ), bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    ), c_sh AS (
      SELECT doc_id AS doc, unnest({sh}) AS shingle FROM deduped
    ), b_sh AS (
      SELECT doc_id AS bench_id, unnest({sh}) AS shingle FROM bench
    ), flagged AS (
      SELECT DISTINCT doc FROM (
        SELECT c.doc, b.bench_id FROM c_sh c JOIN b_sh b USING (shingle)
        WHERE c.doc <> b.bench_id
        GROUP BY c.doc, b.bench_id HAVING COUNT(*) >= {CONTAM_MIN_OVERLAP}) t
    ), clean AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT doc FROM flagged)
        AND doc_id NOT IN (SELECT doc_id FROM bench)
    ), counted AS (
      SELECT doc_id, lang, text,
             CAST(floor({rate}) AS BIGINT)
               + CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
                      < CAST(round(({rate} - floor({rate})) * 100, 0) AS BIGINT)
                      THEN 1 ELSE 0 END AS copies
      FROM clean
    ), expanded AS (
      SELECT doc_id, lang, text,
             CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
      FROM counted WHERE copies > 0
    ), packbase AS (
      SELECT lang || '/' || CAST((doc_id * 100 + epoch) % {shards} AS VARCHAR)
               AS pack_shard,
             doc_id * 100 + epoch AS pack_id,
             CAST({ntok} AS BIGINT) AS n_tokens
      FROM expanded WHERE {ntok} > 0
    ), offs AS (
      SELECT pack_shard, pack_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY pack_id)
               AS end_off
      FROM packbase
    ), spanned AS (
      SELECT pack_shard, end_off, end_off - n_tokens AS start_off,
             CAST(unnest(generate_series(
               CAST(floor((end_off - n_tokens) / {C}.0) AS BIGINT),
               CAST(floor((end_off - 1) / {C}.0) AS BIGINT))) AS BIGINT) AS chunk_id
      FROM offs
    )
    SELECT pack_shard, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(least(end_off, (chunk_id + 1) * {C})
                    - greatest(start_off, chunk_id * {C})) AS BIGINT) AS n_tokens
    FROM spanned GROUP BY pack_shard, chunk_id ORDER BY pack_shard, chunk_id
    """


register(
    "x_training_mix_e2e",
    oracle=_duck_training_mix_oracle(),
    tables=("documents",),
)(_x_training_mix)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def _s_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (operators/similarity.py:brute_force_topk)."""
    from polars_view_spark.operators.similarity import brute_force_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = brute_force_topk(e, e.filter(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# shared by s_ann_bruteforce_topk and s_ann_recall_eval (the recall
# entry embeds both the exact and the IVF rankings as subqueries)
_BRUTE_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {ANN_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 round({duck_cosine_sql("qv", "cv")}, 6) AS score
          FROM q, c WHERE query_id != neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM s)
    SELECT query_id, neighbor_id, score, rank FROM r
    WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """

register(
    "s_ann_bruteforce_topk",
    oracle=_BRUTE_TOPK_ORACLE,
    tables=("embeddings",),
)(_s_ann_brute)


def _s_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-bucketed approximate top-k
    (operators/similarity.py:lsh_topk) — the join key is the bucket id, so
    at 100 TB this is a hash join over ~1/2^bits of the corpus per query;
    the width defaults from the corpus count so that fraction holds as the
    corpus grows (oracle derives the identical width from COUNT(*))."""
    from polars_view_spark.operators.similarity import lsh_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = lsh_topk(
        e, e.filter(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K, dim=EMB_DIM
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


_duck_bucket = duck_lsh_bucket_masked_sql(
    "embedding", duck_adaptive_lsh_bits_sql("embeddings"), EMB_DIM
)

register(
    "s_ann_lsh_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_duck_bucket} AS bucket
               FROM embeddings WHERE vec_id < {ANN_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_duck_bucket} AS bucket
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 round({duck_cosine_sql("qv", "cv")}, 6) AS score
          FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM s)
    SELECT query_id, neighbor_id, score, rank FROM r
    WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_lsh)

IVF_SEED_MOD = 37
IVF_N_PROBE = 2
IVF_SCALE = 1000
IVF_MAX_SEEDS = 64


def _s_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k with deterministic seed centroids
    (operators/similarity.py:ivf_flat_topk) — every step (integer-quantized
    cell assignment, n_probe probing, cosine rank) is replicated in the
    DuckDB oracle, so this gets a full value-hash check.  The trained
    k-means flavor (ivf_topk) stays recall-gated in pytest."""
    from polars_view_spark.operators.similarity import ivf_flat_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = ivf_flat_topk(
        e,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        k=ANN_K,
        seed_mod=IVF_SEED_MOD,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
        max_seeds=IVF_MAX_SEEDS,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# shared by s_ann_ivf_topk and s_ann_index_persist: the persisted-index
# path must reproduce the in-session IVF bit-for-bit, so both entries are
# held to the SAME oracle text
def _ivf_topk_oracle(n_queries: int = ANN_N_QUERIES) -> str:
    """IVF probe/score/rank oracle, parametrized on the query-set size so
    the batch entries (n = ANN_N_QUERIES) and the streaming lookup
    (n = STREAM_ANN_N_QUERIES) share one SQL body."""
    return f"""
    WITH qz AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {IVF_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cell, qv AS sv FROM qz WHERE vec_id % {IVF_SEED_MOD} = 0 ORDER BY vec_id LIMIT {IVF_MAX_SEEDS}),
    dists AS (
      SELECT a.vec_id, s.cell,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (a.qv[i] - s.sv[i]) * (a.qv[i] - s.sv[i]))) AS d
      FROM qz a CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists) t
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists WHERE vec_id < {n_queries}) t
      WHERE rn <= {IVF_N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             round({duck_cosine_sql("q.embedding", "e.embedding")}, 6) AS score
      FROM probes p
      JOIN assigned c USING (cell)
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      WHERE c.vec_id != p.query_id
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
    SELECT query_id, neighbor_id, score, rank FROM r
    WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """


_IVF_TOPK_ORACLE = _ivf_topk_oracle()

register(
    "s_ann_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    tables=("embeddings",),
)(_s_ann_ivf)


def _s_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF build/query split
    (operators/similarity.py:ivf_build_index / ivf_query_index): the index
    — bounded centroid table + cell-PARTITIONED assignment dataset with
    vectors and hoisted norms — is written once, then a separate query
    pass reads it back and probes only the probed cells' partitions
    (broadcast join on the partition column; directory-level pruning).
    This is the 100 TB ANN operating mode: the corpus is scanned once at
    build time, and every subsequent query job touches O(n_probe/cells)
    of the index.  Held to the SAME value-hash oracle as s_ann_ivf_topk —
    the persisted path must reproduce the in-session IVF bit-for-bit, so
    a row lost or a norm corrupted by the parquet round-trip breaks the
    hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import ivf_build_index, ivf_query_index

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    idx = os.path.join(_scratch_dir("ivf_index", sf_dir), "ivf")
    ivf_build_index(
        e, idx, seed_mod=IVF_SEED_MOD, scale=IVF_SCALE, max_seeds=IVF_MAX_SEEDS
    )
    out = ivf_query_index(
        spark,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        idx,
        k=ANN_K,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


register(
    "s_ann_index_persist",
    oracle=_IVF_TOPK_ORACLE,
    tables=("embeddings",),
)(_s_ann_index_persist)


def _s_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index APPEND (operators/similarity.py:ivf_append_index): the
    index is built WITHOUT the ``vec_id % 10 == 5`` slice, that slice is
    appended (assigned per-vector with the frozen build-time centroids,
    rows landing in the cell-partitioned dataset), and the standard
    query set probes the grown index.  Held to the SAME oracle as
    s_ann_ivf_topk over the FULL corpus — an append that loses vectors,
    mis-assigns a cell, or double-writes breaks the value hash.  The
    withheld slice deliberately excludes seed-eligible ids
    (``% {IVF_SEED_MOD} == 0``) so build-time centroids equal the
    oracle's all-at-once derivation — centroid freezing is the IVF
    append contract, not a shortcut."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    later = (F.col("vec_id") % 10 == 5) & (F.col("vec_id") % IVF_SEED_MOD != 0)
    idx = os.path.join(_scratch_dir("ivf_append", sf_dir), "ivf")
    ivf_build_index(
        e.filter(~later), idx,
        seed_mod=IVF_SEED_MOD, scale=IVF_SCALE, max_seeds=IVF_MAX_SEEDS,
    )
    ivf_append_index(e.filter(later), idx, scale=IVF_SCALE)
    out = ivf_query_index(
        spark,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        idx,
        k=ANN_K,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


register(
    "s_ann_index_append",
    oracle=_IVF_TOPK_ORACLE,
    tables=("embeddings",),
)(_s_ann_index_append)


TWO_TOWER_K = 5
TWO_TOWER_QUERY_TOKENS = 10


def _s_two_tower_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tower text retrieval (operators/retrieval.py:two_tower_topk):
    queries (the first 10 tokens of every 97th document — a search-query
    stand-in derived from, but shorter than, its source) and the corpus
    are encoded INDEPENDENTLY by the feature-hashing tower, scored by
    exact cosine, top-5 per query.  The deterministic tower makes the
    dual-encoder plumbing value-hash-checkable end-to-end.  (On this
    synthetic fixture the ~30-word shared vocabulary makes every doc's
    bag-of-words near-uniform, so prefix→source self-retrieval is NOT
    expected here — the retrieval semantics are pinned instead on a
    planted rare-token corpus in tests/test_dedup_similarity.py, where
    the source doc must rank first for its own prefix.)"""
    from polars_view_spark.operators.retrieval import two_tower_topk

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    queries = docs.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.expr(
            "concat_ws(' ', slice(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 1, "
            f"{TWO_TOWER_QUERY_TOKENS}))"
        ).alias("text"),
    )
    return (
        two_tower_topk(queries, docs, k=TWO_TOWER_K)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    )


def _duck_two_tower_oracle(tail: str | None = None) -> str:
    """``tail`` overrides the final SELECT (still over the ``r`` ranked-
    results CTE) so composed entries — the retrieval-eval harness — reuse
    the identical scoring SQL instead of a drifting copy."""
    from polars_view_spark.operators.textstats import HASH_VECTOR_DIM as D

    sign = "(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)"

    sums = ",\n         ".join(
        f"SUM(CASE WHEN h % {D} = {i} THEN {sign} ELSE 0 END) AS b{i}"
        for i in range(D)
    )

    def norm2(alias: str) -> str:
        return " + ".join(f"{alias}.b{i} * {alias}.b{i}" for i in range(D))

    dot = " + ".join(f"q.b{i} * d.b{i}" for i in range(D))
    toks = duck_tokens_sql("text")
    if tail is None:
        tail = (
            "SELECT query_id, neighbor_id, score, rank FROM r\n"
            f"    WHERE rank <= {TWO_TOWER_K} ORDER BY query_id, rank"
        )
    return f"""
    WITH d_toks AS (
      SELECT doc_id AS doc, unnest({toks}) AS tok FROM documents
    ),
    d_h AS (SELECT doc, {duck_hex64_sql("tok")} AS h FROM d_toks),
    d_sums AS (SELECT doc, {sums} FROM d_h GROUP BY doc),
    q_toks AS (
      SELECT doc_id AS doc, unnest(({toks})[1:{TWO_TOWER_QUERY_TOKENS}]) AS tok
      FROM documents WHERE doc_id % 97 = 0
    ),
    q_h AS (SELECT doc, {duck_hex64_sql("tok")} AS h FROM q_toks),
    q_sums AS (SELECT doc, {sums} FROM q_h GROUP BY doc),
    scored AS (
      SELECT q.doc AS query_id, d.doc AS neighbor_id,
             round(({dot})::DOUBLE
                   / sqrt(({norm2('q')})::DOUBLE * ({norm2('d')})::DOUBLE),
                   6) AS score
      FROM q_sums q CROSS JOIN d_sums d
      WHERE ({norm2('q')}) > 0 AND ({norm2('d')}) > 0
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
    {tail}
    """


register(
    "s_two_tower_text_topk",
    oracle=_duck_two_tower_oracle(),
    tables=("documents",),
)(_s_two_tower_text_topk)


IVF_RERANK_DEPTH = 20


def _s_ann_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF: integer-quantized candidate scoring shortlists
    rerank_depth per query, exact float cosine re-ranks the shortlist
    (operators/similarity.py:ivf_rerank_topk) — the production ANN shape
    where exact arithmetic touches O(rerank_depth) rows per query.  Every
    stage (quantized cell assignment, probing, integer approx rank, exact
    rerank) is replicated in the DuckDB oracle for a full value-hash
    check; recall vs brute force is additionally pinned in pytest."""
    from polars_view_spark.operators.similarity import ivf_rerank_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = ivf_rerank_topk(
        e,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        k=ANN_K,
        seed_mod=IVF_SEED_MOD,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
        max_seeds=IVF_MAX_SEEDS,
        rerank_depth=IVF_RERANK_DEPTH,
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


register(
    "s_ann_ivf_rerank",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {IVF_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cell, qv AS sv FROM qz WHERE vec_id % {IVF_SEED_MOD} = 0 ORDER BY vec_id LIMIT {IVF_MAX_SEEDS}),
    dists AS (
      SELECT a.vec_id, s.cell,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (a.qv[i] - s.sv[i]) * (a.qv[i] - s.sv[i]))) AS d
      FROM qz a CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists) t
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dists WHERE vec_id < {ANN_N_QUERIES}) t
      WHERE rn <= {IVF_N_PROBE}
    ),
    approx AS (
      -- stage 1: quantized-code cosine; the integer dots are exact in
      -- doubles, so the value is accumulation-order-independent and the
      -- rank matches the Spark kernel's matmul bit-for-bit
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_dot_product(zc.qv::DOUBLE[], zq.qv::DOUBLE[]) /
               (sqrt(list_dot_product(zq.qv::DOUBLE[], zq.qv::DOUBLE[])) *
                sqrt(list_dot_product(zc.qv::DOUBLE[], zc.qv::DOUBLE[]))) AS a
      FROM probes p
      JOIN assigned c USING (cell)
      JOIN qz zq ON zq.vec_id = p.query_id
      JOIN qz zc ON zc.vec_id = c.vec_id
      WHERE c.vec_id != p.query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY a DESC, neighbor_id) AS rn
        FROM approx) t
      WHERE rn <= {IVF_RERANK_DEPTH}
    ),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             round({duck_cosine_sql("q.embedding", "e.embedding")}, 6) AS score
      FROM shortlist s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings e ON e.vec_id = s.neighbor_id
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
    SELECT query_id, neighbor_id, score, rank FROM r
    WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_ivf_rerank)


MARGIN_MINE_K = 4
MARGIN_MINE_THRESHOLD = 1.05


def _s_margin_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (operators/similarity.py:
    margin_mine_pairs — Artetxe & Schwenk 2019 ratio margin, the
    LASER/CCMatrix bitext step): the embeddings table split by vec_id
    parity plays the two "languages"; sign-LSH buckets generate
    candidates, each pair's cosine is normalized by both endpoints'
    k-NN average similarity, and mutual forward/backward argmax pairs
    above the margin threshold survive.  All margin arithmetic is
    integer (quantized cosines, window sums, one exact double division)
    so the oracle hash-matches."""
    from polars_view_spark.operators.similarity import margin_mine_pairs

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = margin_mine_pairs(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        k=MARGIN_MINE_K,
        dim=EMB_DIM,
        threshold=MARGIN_MINE_THRESHOLD,
    )
    return out.orderBy(F.desc("margin"), "x_id")


register(
    "s_margin_bitext_pairs",
    oracle=f"""
    WITH x AS (SELECT vec_id AS x_id, embedding AS xv, {_duck_bucket} AS b
               FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
    y AS (SELECT vec_id AS y_id, embedding AS yv, {_duck_bucket} AS b
          FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
    s AS (SELECT x_id, y_id,
                 CAST(round(({duck_cosine_sql("xv", "yv")}) * 1000000) AS BIGINT) AS sq
          FROM x JOIN y USING (b)),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY sq DESC, y_id) AS rx,
                 ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY sq DESC, x_id) AS ry
          FROM s),
    st AS (SELECT *,
                  SUM(CASE WHEN rx <= {MARGIN_MINE_K} THEN sq END)
                      OVER (PARTITION BY x_id) AS sx,
                  SUM(CASE WHEN rx <= {MARGIN_MINE_K} THEN 1 ELSE 0 END)
                      OVER (PARTITION BY x_id) AS cx,
                  SUM(CASE WHEN ry <= {MARGIN_MINE_K} THEN sq END)
                      OVER (PARTITION BY y_id) AS sy,
                  SUM(CASE WHEN ry <= {MARGIN_MINE_K} THEN 1 ELSE 0 END)
                      OVER (PARTITION BY y_id) AS cy
           FROM r),
    m AS (SELECT x_id, y_id, sq,
                 round(CAST((2 * sq * cx * cy) AS DOUBLE) /
                       CAST((sx * cy + sy * cx) AS DOUBLE), 6) AS margin
          FROM st WHERE (sx * cy + sy * cx) > 0),
    b2 AS (SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bx,
                  ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS by
           FROM m)
    SELECT x_id, y_id, CAST(sq AS DOUBLE) / 1000000 AS score, margin
    FROM b2 WHERE bx = 1 AND by = 1 AND margin > {MARGIN_MINE_THRESHOLD}
    ORDER BY margin DESC, x_id
    """,
    tables=("embeddings",),
)(_s_margin_bitext_pairs)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def _x_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (operators/textstats.py)."""
    from polars_view_spark.operators.textstats import token_count

    t = load_tables(spark, sf_dir, "documents")
    out = token_count(t["documents"])
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


register(
    "x_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+')) AS n_words,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_token_count)


def _duck_lang_oracle() -> str:
    langs = sorted(STOPWORDS)
    counts = ",\n           ".join(
        f"{duck_stopword_count_sql('text', lg)} AS sw_{lg}" for lg in langs
    )
    max_n = "greatest(" + ", ".join(f"sw_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN sw_{lg} = {max_n} THEN '{lg}'" for lg in langs)
    return f"""
    WITH counted AS (
      SELECT doc_id, lang,
           {counts}
      FROM documents
    )
    SELECT doc_id, lang, CASE {case} END AS predicted_lang
    FROM counted ORDER BY doc_id
    """


def _x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language heuristic (operators/textstats.py:lang_id);
    ties resolve to the alphabetically-first language on both engines."""
    from polars_view_spark.operators.textstats import lang_id

    t = load_tables(spark, sf_dir, "documents")
    return lang_id(t["documents"]).select("doc_id", "lang", "predicted_lang").orderBy(
        "doc_id"
    )


register("x_lang_id", oracle=_duck_lang_oracle(), tables=("documents",))(_x_lang_id)


def _x_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (operators/textstats.py:quality_score)."""
    from polars_view_spark.operators.textstats import quality_score

    t = load_tables(spark, sf_dir, "documents")
    return quality_score(t["documents"]).select("doc_id", "quality").orderBy("doc_id")


_q_words = "len(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+'))"
_q_punct = "len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))"
_q_stops = duck_stopword_count_sql("text", "en")

register(
    "x_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * least({_q_words} / 100.0, 1.0)
               + 0.3 * (1.0 - {_q_punct} / CAST(greatest(length(text), 1) AS DOUBLE))
               + 0.3 * least({_q_stops} / CAST(greatest({_q_words}, 1) AS DOUBLE) * 5.0, 1.0),
             6) AS quality
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_quality)


def _x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of whitespace-normalized lowercased text
    (operators/textstats.py:fingerprint)."""
    from polars_view_spark.operators.textstats import fingerprint

    t = load_tables(spark, sf_dir, "documents")
    return fingerprint(t["documents"]).select("doc_id", "fingerprint").orderBy("doc_id")


register(
    "x_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_fingerprint)


def _x_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints
    (operators/textstats.py:winnow_fingerprints), aggregated per doc for a
    compact oracle surface."""
    from polars_view_spark.operators.textstats import winnow_fingerprints

    t = load_tables(spark, sf_dir, "documents")
    fps = winnow_fingerprints(t["documents"])
    return (
        fps.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.min("fingerprint").alias("min_fp"),
            F.max("fingerprint").alias("max_fp"),
        )
        .orderBy("id")
    )


def _duck_winnow_ctes(source: str = "documents", prefix: str = "") -> str:
    """Shared CTE chain ``{prefix}hashed, {prefix}winnowed`` — (id,
    fingerprint) exploded winnowing fingerprints, mirroring
    textstats.py:winnow_fingerprints; used by the fingerprint entry, the
    containment detector, and (prefixed, twice) the streaming screen."""
    from polars_view_spark.operators.textstats import WINNOW_K, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    norm = "regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"
    grams = (
        f"CASE WHEN length({norm}) >= {k} THEN "
        f"list_transform(range(1, length({norm}) - {k} + 2), i -> substr({norm}, i, {k})) "
        f"ELSE [] END"
    )
    return f"""{prefix}hashed AS (
      SELECT doc_id AS id,
             list_transform({grams}, g -> {duck_hex64_sql('g')}) AS h
      FROM {source}
    ),
    {prefix}winnowed AS (
      SELECT id, unnest(list_distinct(
        CASE WHEN len(h) >= {w} THEN
          list_transform(range(1, len(h) - {w} + 2), j -> list_min(h[j:j+{w}-1]))
        WHEN len(h) > 0 THEN [list_min(h)]
        ELSE [] END)) AS fingerprint
      FROM {prefix}hashed
    )"""


def _duck_winnow_oracle() -> str:
    return f"""
    WITH {_duck_winnow_ctes()}
    SELECT id, COUNT(*) AS n_fp, MIN(fingerprint) AS min_fp, MAX(fingerprint) AS max_fp
    FROM winnowed GROUP BY id ORDER BY id
    """


register("x_winnow_fingerprints", oracle=_duck_winnow_oracle(), tables=("documents",))(
    _x_winnow
)


def _d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc containment detection
    (operators/dedup.py:doc_containment_pairs): asymmetric near-dup
    evidence — ≥90 % of the inner doc's winnowing fingerprints appear in
    the outer doc.  Integer share threshold, hash-exact oracle."""
    from polars_view_spark.operators.dedup import doc_containment_pairs

    t = load_tables(spark, sf_dir, "documents")
    return doc_containment_pairs(t["documents"], "doc_id", "text").orderBy(
        "inner_doc", "outer_doc"
    )


def _duck_containment_oracle() -> str:
    from polars_view_spark.operators.dedup import (
        CONTAINMENT_JOIN_CAP as JCAP,
        CONTAINMENT_MIN_SIG as MIN_SIG,
        CONTAINMENT_SHARE_PCT as PCT,
        CONTAINMENT_SIG_K as K,
        MAX_LSH_BUCKET as CAP,
    )

    # mirrors the full operator semantics: dual admissibility cap
    # (min(max(64, n_docs DIV 10), 512) from the corpus count) and the
    # rarest-k inner signature (ties by fingerprint value)
    return f"""
    WITH {_duck_winnow_ctes()},
    freq AS (
      SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS f
      FROM winnowed GROUP BY fingerprint
    ),
    kept AS (
      SELECT w.id, w.fingerprint, q.f FROM winnowed w
      JOIN freq q USING (fingerprint)
      WHERE q.f <= (SELECT LEAST(GREATEST({CAP}, COUNT(*) // 10), {JCAP})
                    FROM documents)
    ),
    sig AS (
      SELECT id, fingerprint FROM (
        SELECT id, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY f ASC, fingerprint ASC) AS rk
        FROM kept) t
      WHERE rk <= {K}
    ),
    nsig AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sig FROM sig GROUP BY id),
    shared AS (
      SELECT a.id AS inner_doc, b.id AS outer_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sig a JOIN kept b
        ON a.fingerprint = b.fingerprint AND a.id != b.id
      GROUP BY a.id, b.id
    )
    SELECT s.inner_doc, s.outer_doc, s.n_shared, si.n_sig,
           CAST((s.n_shared * 100) // si.n_sig AS BIGINT) AS share_pct
    FROM shared s JOIN nsig si ON si.id = s.inner_doc
    WHERE si.n_sig >= {MIN_SIG} AND s.n_shared * 100 >= {PCT} * si.n_sig
    ORDER BY inner_doc, outer_doc
    """


register(
    "d_containment_pairs", oracle=_duck_containment_oracle(), tables=("documents",)
)(_d_containment_pairs)


def _e_streaming_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion-gate containment screen
    (streaming/events.py:streaming_containment_screen over
    operators/dedup.py:doc_containment_screen): every 7th document
    arrives as a 3-file stream (one micro-batch per file, ascending
    mtimes) and is screened against the fixed standing corpus (the other
    6/7) for doc-in-doc containment.  Because the reference corpus is
    fixed, the union of per-batch flags equals the one-shot batch screen
    exactly — so the drained sink is held to a full value-hash oracle, a
    stronger gate than the evolving-corpus MinHash stream can admit."""
    import glob as globmod
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_containment_screen,
    )

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    arrivals = docs.filter(F.col("doc_id") % 7 == 0)

    d = _scratch_dir("streamcontain", sf_dir)
    landing = os.path.join(d, "landing")
    (
        arrivals.withColumn("__f", F.col("doc_id") % 3)
        .repartition(3, "__f")
        .drop("__f")
        .write.mode("overwrite")
        .parquet(landing)
    )
    base = 1_700_000_000  # fixed epoch: mtime order decides batch order
    for i, p in enumerate(sorted(globmod.glob(os.path.join(landing, "part-*")))):
        os.utime(p, (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    flags_dir = os.path.join(d, "flags")
    q = streaming_containment_screen(stream, corpus, flags_dir)
    assert q.awaitTermination(300), "containment stream did not drain"
    return read_sink_or_empty(
        spark,
        flags_dir,
        "arrival_doc BIGINT, corpus_doc BIGINT, n_shared BIGINT, "
        "n_sig BIGINT, share_pct BIGINT",
    ).orderBy("arrival_doc", "corpus_doc")


def _duck_containment_screen_oracle() -> str:
    from polars_view_spark.operators.dedup import (
        CONTAINMENT_JOIN_CAP as JCAP,
        CONTAINMENT_MIN_SIG as MIN_SIG,
        CONTAINMENT_SHARE_PCT as PCT,
        CONTAINMENT_SIG_K as K,
        MAX_LSH_BUCKET as CAP,
    )

    cap = f"(SELECT LEAST(GREATEST({CAP}, COUNT(*) // 10), {JCAP}) FROM corpus)"
    return f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
    arrivals AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
    {_duck_winnow_ctes("corpus", "c_")},
    {_duck_winnow_ctes("arrivals", "a_")},
    freq AS (
      SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS f
      FROM c_winnowed GROUP BY fingerprint
    ),
    kept AS (
      SELECT w.id, w.fingerprint, q.f FROM c_winnowed w
      JOIN freq q USING (fingerprint)
      WHERE q.f <= {cap}
    ),
    a_f AS (
      SELECT w.id, w.fingerprint, COALESCE(q.f, 0) AS f
      FROM a_winnowed w LEFT JOIN freq q USING (fingerprint)
      WHERE COALESCE(q.f, 0) <= {cap}
    ),
    sig AS (
      SELECT id, fingerprint FROM (
        SELECT id, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY f ASC, fingerprint ASC) AS rk
        FROM a_f) t
      WHERE rk <= {K}
    ),
    nsig AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sig FROM sig GROUP BY id),
    shared AS (
      SELECT a.id AS arrival_doc, b.id AS corpus_doc,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sig a JOIN kept b
        ON a.fingerprint = b.fingerprint AND a.id != b.id
      GROUP BY a.id, b.id
    )
    SELECT s.arrival_doc, s.corpus_doc, s.n_shared, si.n_sig,
           CAST((s.n_shared * 100) // si.n_sig AS BIGINT) AS share_pct
    FROM shared s JOIN nsig si ON si.id = s.arrival_doc
    WHERE si.n_sig >= {MIN_SIG} AND s.n_shared * 100 >= {PCT} * si.n_sig
    ORDER BY arrival_doc, corpus_doc
    """


register(
    "e_streaming_containment",
    oracle=_duck_containment_screen_oracle(),
    tables=("documents",),
)(_e_streaming_containment)


def _d_containment_index_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment screen against a PERSISTED corpus index
    (operators/dedup.py:containment_build_index /
    containment_load_stats): the standing corpus's winnowing statistics
    — admissible fingerprint table, frequency map, corpus-derived cap —
    are written once and the gate loads them, re-fingerprinting nothing
    corpus-side; the third build/query split beside the MinHash and IVF
    indexes.  Same arrival split as e_streaming_containment and held to
    the SAME value-hash oracle: a fingerprint row or the persisted cap
    corrupted in the round-trip breaks the hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.dedup import (
        containment_build_index,
        containment_load_stats,
        doc_containment_screen,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    arrivals = d.filter(F.col("doc_id") % 7 == 0)
    idx = os.path.join(_scratch_dir("containment_index", sf_dir), "cidx")
    containment_build_index(corpus, idx, "doc_id", "text")
    stats = containment_load_stats(spark, idx)
    return doc_containment_screen(
        corpus, arrivals, "doc_id", "text", corpus_stats=stats
    ).orderBy("arrival_doc", "corpus_doc")


register(
    "d_containment_index_screen",
    oracle=_duck_containment_screen_oracle(),
    tables=("documents",),
)(_d_containment_index_screen)


def _duck_hashed_vec_oracle() -> str:
    from polars_view_spark.operators.textstats import HASH_VECTOR_DIM as D

    sign = "(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END)"
    sums = ",\n         ".join(
        f"SUM(CASE WHEN h % {D} = {i} THEN {sign} ELSE 0 END) AS b{i}" for i in range(D)
    )
    vec_str = " || ',' || ".join(f"b{i}::VARCHAR" for i in range(D))
    norm2 = " + ".join(f"b{i} * b{i}" for i in range(D))
    nnz = " + ".join(f"(CASE WHEN b{i} != 0 THEN 1 ELSE 0 END)" for i in range(D))
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest({duck_tokens_sql("text")}) AS tok FROM documents
    ),
    hashed AS (SELECT doc, {duck_hex64_sql("tok")} AS h FROM toks),
    sums AS (
      SELECT doc,
         {sums}
      FROM hashed GROUP BY doc
    )
    SELECT doc, md5({vec_str}) AS vec_md5,
           CAST({norm2} AS BIGINT) AS norm2,
           CAST({nnz} AS INT) AS nnz
    FROM sums ORDER BY doc
    """


def _x_hashed_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document vectors
    (operators/textstats.py:hashed_doc_vectors): vocabulary-free ±1
    bucket counts, one explode + one keyed shuffle, all-integer so the
    oracle is hash-exact.  The vector itself is md5-folded for the
    driver hash (array columns follow the x_embedding_quantize
    convention); norm² and nnz are carried raw as numeric probes."""
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    t = load_tables(spark, sf_dir, "documents")
    return (
        hashed_doc_vectors(t["documents"], "doc_id", "text")
        .select(
            "doc",
            F.expr("md5(concat_ws(',', transform(vec, x -> CAST(x AS STRING))))").alias(
                "vec_md5"
            ),
            "norm2",
            "nnz",
        )
        .orderBy("doc")
    )


register(
    "x_hashed_doc_vectors", oracle=_duck_hashed_vec_oracle(), tables=("documents",)
)(_x_hashed_doc_vectors)


def _x_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: pack text → binary + metadata struct, then
    Arrow-batched mapInPandas 'decode' (operators/multimodal.py).  The
    deterministic fake decode makes the pandas-UDF path oracle-checkable."""
    from polars_view_spark.operators.multimodal import decode_features, pack_binary

    t = load_tables(spark, sf_dir, "documents")
    packed = pack_binary(t["documents"], "text", "source")
    out = decode_features(packed)
    return out.select(
        "doc_id",
        "n_bytes",
        F.col("first_byte").cast("long").alias("first_byte"),
        F.round(F.element_at("feature", 3), 1).alias("f2"),
        F.round(F.element_at("feature", 4), 1).alias("f3"),
    ).orderBy("doc_id")


register(
    "x_multimodal_decode",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ascii(text)::BIGINT AS first_byte,
           round((octet_length(encode(text)) % 7)::DOUBLE, 1) AS f2,
           round(((octet_length(encode(text)) + ascii(text)) % 13)::DOUBLE, 1) AS f3
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_multimodal)

def _x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profiler (meta/profile.py:profile_columns) —
    n_rows / n_nulls / n_distinct for every orders column."""
    from polars_view_spark.meta.profile import profile_columns

    t = load_tables(spark, sf_dir, "orders")
    return profile_columns(t["orders"]).orderBy("column")


register(
    "x_profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus) FROM orders
    UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice) FROM orders
    UNION ALL SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate) FROM orders
    UNION ALL SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority) FROM orders
    ORDER BY "column"
    """,
    tables=("orders",),
)(_x_profile)


def _x_grouped_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas operator: per-language percentile rank of each
    document's length, computed with ``groupBy().applyInPandas`` — the
    Arrow-batched per-group path for logic that wants a whole group in
    memory (here deliberately integer-exact so a window-SQL oracle verifies
    the pandas path value-for-value)."""
    import pandas as pd
    from pyspark.sql import types as T

    t = load_tables(spark, sf_dir, "documents")

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("len_rank", T.LongType()),
            T.StructField("group_size", T.LongType()),
        ]
    )

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_chars", "doc_id"]).reset_index(drop=True)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "len_rank": range(1, len(pdf) + 1),
                "group_size": len(pdf),
            }
        )

    return (
        t["documents"]
        .select("doc_id", "lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(rank_group, out_schema)
        .orderBy("doc_id")
    )


register(
    "x_grouped_rank_pandas",
    oracle="""
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT)
             AS len_rank,
           CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS group_size
    FROM documents ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_grouped_rank)


# --------------------------------------------------------------------------
# event operators (batch; streaming flavors in streaming/events.py)
# --------------------------------------------------------------------------


def _e_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (operators/events.py:tumbling_agg)
    — same window operator Structured Streaming uses."""
    from polars_view_spark.operators.events import tumbling_agg

    t = load_tables(spark, sf_dir, "events")
    return tumbling_agg(t["events"]).orderBy("window_start", "event_type")


register(
    "e_tumbling_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value) + 1e-6, 2) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tables=("events",),
)(_e_tumbling)


def _e_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation, driver-gated: the
    watermarked stream (streaming/events.py:streaming_tumbling_agg) over the
    events parquet is drained with ``trigger(availableNow=True)`` into a
    complete-mode memory sink and returned as a plain DataFrame.  The oracle
    is the identical batch SQL — this makes the batch/stream parity the
    pytest suite asserts (tests/test_streaming.py) visible to the driver's
    value-hash gate.  Complete-mode memory sink is the finite-backfill
    harness only; a live deployment writes append-mode to a real sink and
    lets the watermark finalize windows incrementally."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_tumbling_agg,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_tumbling_agg(stream), "e_streaming_tumbling_sink",
        # state stores sized to the drain's keyspace (see
        # run_stream_to_memory) — results are partition-count-independent
        state_partitions=8,
    )
    return spark.table("e_streaming_tumbling_sink").orderBy(
        "window_start", "event_type"
    )


register(
    "e_streaming_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value) + 1e-6, 2) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tables=("events",),
)(_e_streaming_tumbling)


def _e_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows driver-gated: ``session_window``
    (streaming/events.py:streaming_session_windows) drained with
    ``availableNow`` into a complete-mode memory sink.  The oracle derives
    the identical gap sessions with a lag/cumsum split — Spark's
    session-window end is EXCLUSIVE (an event landing exactly ``gap`` after
    the previous one opens a NEW session), so the oracle splits on
    ``>= gap``, unlike e_sessionize's ``>`` convention."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_session_windows,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_session_windows(stream), "e_streaming_sessions_sink",
        # state stores sized to the drain's keyspace (see
        # run_stream_to_memory) — results are partition-count-independent
        state_partitions=8,
    )
    return spark.table("e_streaming_sessions_sink").orderBy(
        "user_id", "session_start"
    )


register(
    "e_streaming_sessions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ),
    numbered AS (
      SELECT *, SUM(new_s) OVER
               (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tables=("events",),
)(_e_streaming_sessions)


def _e_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join driver-gated: error↔click pairing
    (streaming/events.py:streaming_error_after_click) drained with
    ``availableNow`` in APPEND mode (the only mode stream-stream joins
    support).  A single-parquet-file source drains in one micro-batch, so
    no row is late relative to the watermark and the result equals the
    batch join — making a FULL value-hash oracle possible for the one
    streaming family member that previously had only pytest parity."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_error_after_click,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_error_after_click(stream),
        "e_streaming_join_sink",
        output_mode="append",
        # state stores sized to the drain's keyspace (see
        # run_stream_to_memory) — results are partition-count-independent
        state_partitions=8,
    )
    return spark.table("e_streaming_join_sink").orderBy(
        "user_id", "error_id", "click_id"
    )


register(
    "e_streaming_join",
    oracle="""
    SELECT e.user_id,
           e.event_id AS error_id,
           c.event_id AS click_id,
           CAST(floor(epoch(e.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_sec
    FROM events e JOIN events c
      ON c.user_id = e.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 10 MINUTE
    ORDER BY e.user_id, error_id, click_id
    """,
    tables=("events",),
)(_e_streaming_join)


def _e_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows driver-gated: 1 h windows every 30 min
    (streaming/events.py:streaming_sliding_agg), availableNow drain.  Each
    event lands in exactly width/slide = 2 windows; the oracle materializes
    both 30-minute-aligned window starts per event with a UNION ALL and
    re-aggregates — same counts, no window function needed."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_sliding_agg,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_sliding_agg(stream), "e_streaming_sliding_sink",
        # state stores sized to the drain's keyspace (see
        # run_stream_to_memory) — results are partition-count-independent
        state_partitions=8,
    )
    return spark.table("e_streaming_sliding_sink").orderBy(
        "window_start", "event_type"
    )


register(
    "e_streaming_sliding",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
             event_type
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
           strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M') AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM buckets
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
    tables=("events",),
)(_e_streaming_sliding)


def _e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/events.py:sessionize)."""
    from polars_view_spark.operators.events import sessionize

    t = load_tables(spark, sf_dir, "events")
    return sessionize(t["events"], gap_minutes=SESSION_GAP_MIN).orderBy(
        "user_id", "session_id"
    )


register(
    "e_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             floor(epoch(ts))::BIGINT AS tsec,
             lag(floor(epoch(ts))::BIGINT) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tsec
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_tsec IS NULL
                       OR tsec - prev_tsec > {SESSION_GAP_MIN * 60}
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id::BIGINT AS session_id,
           COUNT(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           (max(tsec) - min(tsec))::BIGINT AS duration_sec
    FROM numbered
    GROUP BY user_id, numbered.session_id
    ORDER BY user_id, session_id
    """,
    tables=("events",),
)(_e_sessionize)


def _e_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event ↔ the user's latest order at-or-before the
    event (operators/events.py:asof_join, union-merge plan — one shuffle,
    no inequality-join blowup).  The (custkey, orderdate) duplicate rule —
    highest ``o_orderkey`` wins — is folded into the merge window as a
    tiebreak ordering instead of a separate dedup pass: round-10
    optimization, removes the dedup window's full exchange over orders
    (guide §2.4 — both operations are keyed by custkey; the previous
    dedup_exact shuffled by (custkey, orderdate) first).  Equivalence:
    among right rows sharing (key, ts) the one sorting last by orderkey
    is exactly the row the old keep-max dedup kept."""
    from polars_view_spark.operators.events import asof_join

    t = load_tables(spark, sf_dir, "events", "orders")
    out = asof_join(
        t["events"].select("event_id", "user_id", "ts"),
        t["orders"].select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_value_cols=["o_orderkey", "o_totalprice"],
        right_tiebreak_cols=("o_orderkey",),
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    ).orderBy("event_id")


register(
    "e_asof_join",
    oracle="""
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                     ORDER BY o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           o.o_orderkey,
           round(o.o_totalprice, 2) AS totalprice
    FROM events e ASOF LEFT JOIN o1 o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ORDER BY e.event_id
    """,
    tables=("events", "orders"),
)(_e_asof)


def _e_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a typed field from the JSON
    ``props`` string (GET_JSON_OBJECT ≡ json_extract) and aggregate on it —
    the pattern for event payloads that arrive as JSON blobs."""
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k") + F.lit(1e-9), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


register(
    "e_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           MIN(CAST(json_extract(props, '$.k') AS BIGINT))   AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT))   AS max_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)) + 1e-9, 4) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
)(_e_json_props)


def _e_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured payloads: ``parse_json``
    decodes the JSON string ONCE per row into the binary VARIANT encoding;
    every subsequent ``variant_get`` / ``to_json`` is a cheap typed probe
    of that buffer.  The string-path sibling (e_json_extract) re-parses
    ``props`` on every ``get_json_object`` call — at 100 TB of event
    payloads with several extracted fields the repeated parse dominates
    the scan, which is exactly what VARIANT removes.  All extraction is
    JVM-side codegen (no Python); the aggregate is one keyed shuffle.
    ``to_json(parse_json(x))`` minifies identically to DuckDB's
    ``json(x)::VARCHAR``, so the payload-distinct count is hash-exact."""
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .withColumn("v", F.expr("parse_json(props)"))
        .groupBy("event_type")
        .agg(
            # try_variant_get, not variant_get: under ANSI mode the strict
            # form ABORTS the job on one payload whose $.k isn't castable
            # to bigint — PERMISSIVE NULL degradation is the production
            # contract everywhere else in this repo (cf. try_cast in the
            # CSV/fixed-width readers)
            F.count(F.expr("try_variant_get(v, '$.k', 'bigint')")).alias("n_with_k"),
            F.expr("sum(try_variant_get(v, '$.k', 'bigint'))")
            .cast("bigint")
            .alias("sum_k"),
            F.countDistinct(F.expr("to_json(v)")).alias("n_payloads"),
        )
        .orderBy("event_type")
    )


register(
    "e_variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(DISTINCT CAST(json(props) AS VARCHAR)) AS n_payloads
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
)(_e_variant_extract)


def _e_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup pyramid (hour+day) in one pass
    (operators/events.py:multi_granularity_rollup)."""
    from polars_view_spark.operators.events import multi_granularity_rollup

    t = load_tables(spark, sf_dir, "events")
    return multi_granularity_rollup(t["events"]).orderBy(
        "granularity", "bucket", "event_type"
    )


register(
    "e_rollup_pyramid",
    oracle="""
    SELECT 'hour' AS granularity,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS bucket,
           event_type, COUNT(*) AS n_events,
           ROUND(SUM(value) + 1e-6, 2) AS sum_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M'),
           event_type, COUNT(*), ROUND(SUM(value) + 1e-6, 2)
    FROM events GROUP BY 2, 3
    ORDER BY granularity, bucket, event_type
    """,
    tables=("events",),
)(_e_rollup_pyramid)


def _e_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events bucketed by value bands via a broadcast
    interval table (operators/events.py:range_join)."""
    from polars_view_spark.operators.events import range_join

    t = load_tables(spark, sf_dir, "events")
    buckets = store.small_frame(
        spark,
        [(0.0, 10.0, "low"), (10.0, 100.0, "mid"), (100.0, 1e18, "high")],
        "lo double, hi double, band string",
    )
    out = range_join(t["events"], buckets, "value")
    return (
        out.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") + F.lit(1e-6), 2).alias("sum_value"),
        )
        .orderBy("band")
    )


register(
    "e_range_join",
    oracle="""
    WITH buckets(lo, hi, band) AS (
      VALUES (0.0, 10.0, 'low'), (10.0, 100.0, 'mid'), (100.0, 1e18, 'high')
    )
    SELECT band, COUNT(*) AS n, ROUND(SUM(value) + 1e-6, 2) AS sum_value
    FROM events e LEFT JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band ORDER BY band
    """,
    tables=("events",),
)(_e_range_join)


# ---------------------------------------------------------------------------
# document chunking (RAG / long-context window prep)
# ---------------------------------------------------------------------------

CHUNK_CHARS = 512
CHUNK_OVERLAP = 64
_CHUNK_STEP = CHUNK_CHARS - CHUNK_OVERLAP


def _x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width character chunks per document
    (operators/packing.py:chunk_documents) — projection + explode only,
    no shuffle; the oracle replicates the exact start/step arithmetic."""
    from polars_view_spark.operators.packing import chunk_documents

    t = load_tables(spark, sf_dir, "documents")
    return chunk_documents(
        t["documents"], chunk_chars=CHUNK_CHARS, overlap=CHUNK_OVERLAP
    ).orderBy("doc_id", "chunk_id")


register(
    "x_chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST((u.start - 1) // {_CHUNK_STEP} AS BIGINT) AS chunk_id,
           CAST(u.start AS BIGINT) AS chunk_start,
           substr(text, CAST(u.start AS INT), {CHUNK_CHARS}) AS chunk_text,
           CAST(length(substr(text, CAST(u.start AS INT), {CHUNK_CHARS})) AS BIGINT)
             AS n_chunk_chars
    FROM documents,
         UNNEST(generate_series(1, greatest(length(text), 1), {_CHUNK_STEP}))
           AS u(start)
    ORDER BY doc_id, chunk_id
    """,
    tables=("documents",),
)(_x_chunk_documents)


def _x_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF surface (operators/udtfs.py:SentenceSplit):
    sentence segmentation as a LATERAL table function — one row per
    (doc, sentence) with index and length, the third Python-extension
    face beside the Data Source API and pandas UDFs.  The deterministic
    splitter (shared regex/trim constants) is re-stated verbatim in the
    DuckDB oracle, so the whole UDTF plumbing — schema declaration,
    lateral join, per-partition eval, Arrow transfer — is value-hash
    gated, exactly like t_python_datasource's regenerating oracle."""
    from polars_view_spark.operators.udtfs import sentence_table

    t = load_tables(spark, sf_dir, "documents")
    return (
        sentence_table(t["documents"])
        .select(
            F.col("id").alias("doc_id"),
            F.col("sentence_idx").cast("int").alias("sentence_idx"),
            "sentence",
            F.col("n_chars").cast("int").alias("n_chars"),
        )
        .orderBy("doc_id", "sentence_idx")
    )


def _duck_sentence_split_oracle() -> str:
    # the boundary regex and strip set are interpolated from udtfs.py so
    # the two engines can never drift (texthash single-sourcing rule)
    from polars_view_spark.operators.udtfs import SENTENCE_BOUNDARY, STRIP_CHARS

    return f"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(
                 regexp_split_to_array(text, '{SENTENCE_BOUNDARY}'),
                 x -> trim(x, '{STRIP_CHARS}')), x -> x <> '') AS sents
      FROM documents
    )
    SELECT doc_id, CAST(u.r['i'] - 1 AS INT) AS sentence_idx,
           u.r['s'] AS sentence, CAST(length(u.r['s']) AS INT) AS n_chars
    FROM s, UNNEST(list_transform(sents, (x, i) -> {{'i': i, 's': x}})) AS u(r)
    ORDER BY doc_id, sentence_idx
    """


register(
    "x_sentence_split_udtf",
    oracle=_duck_sentence_split_oracle(),
    tables=("documents",),
)(_x_sentence_split_udtf)


# ---------------------------------------------------------------------------
# contrastive negative sampling
# ---------------------------------------------------------------------------

NEG_K = 3
# n_buckets is DERIVED from the corpus count on both engines (Spark:
# adaptive_neg_buckets over one count; DuckDB: the scalar-subquery
# mirror) — the round-5 manual knob measured 105.8 s → 8.7 s on the 10×
# corpus is now automatic (VERDICT r05 task 4).
_NEG_BUCKETS_SQL = duck_adaptive_neg_buckets_sql("documents")


def _x_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (operators/retrieval.py:
    negative_pairs): every doc whose id % 97 == 0 is a query; each gets
    NEG_K md5-bucket-drawn negatives.  No cross join, no rand(), no global
    index — the oracle replicates the md5 arithmetic verbatim, including
    the corpus-count-derived bucket count."""
    from polars_view_spark.operators.retrieval import negative_pairs

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    return negative_pairs(
        docs.filter(F.col("doc_id") % 97 == 0), docs, k=NEG_K
    ).orderBy("qid", "neg_slot")


register(
    "x_negative_pairs",
    oracle=f"""
    WITH q AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 97 = 0),
    qi AS (
      SELECT qid, CAST(u.i AS BIGINT) AS neg_slot,
             {duck_hex64_sql("qid::VARCHAR || ':' || u.i::VARCHAR")} % {_NEG_BUCKETS_SQL} AS bucket
      FROM q, UNNEST(generate_series(0, {NEG_K - 1})) AS u(i)
    ),
    c AS (
      SELECT doc_id AS neg_id,
             {duck_hex64_sql("doc_id::VARCHAR")} % {_NEG_BUCKETS_SQL} AS bucket
      FROM documents
    ),
    cand AS (
      SELECT qid, neg_slot, neg_id,
             {duck_hex64_sql("qid::VARCHAR || ':' || neg_slot::VARCHAR || ':' || neg_id::VARCHAR")} AS h
      FROM qi JOIN c USING (bucket)
      WHERE neg_id <> qid
    )
    SELECT qid, neg_slot, neg_id
    FROM (SELECT qid, neg_slot, neg_id,
                 ROW_NUMBER() OVER (PARTITION BY qid, neg_slot ORDER BY h, neg_id) AS rn
          FROM cand)
    WHERE rn = 1
    ORDER BY qid, neg_slot
    """,
    tables=("documents",),
)(_x_negative_pairs)


# ---------------------------------------------------------------------------
# mergeable sketch rollups (incremental distinct counts / quantiles)
# ---------------------------------------------------------------------------


def _x_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-user counts via mergeable HLL sketches
    (operators/sketches.py): per-(event_type, day) partial sketches are
    merged up to per-type totals — the persist-partials-merge-later
    pattern that answers rollups at 100 TB without rescanning raw data.

    Sketch estimates are engine-specific, so (q_approx_aggregates idiom)
    the query emits EXACT counts plus self-asserting booleans: the merged
    estimate tracks the sketch-the-whole-input estimate within 1%
    (identical in the sparse regime; once the union path promotes to the
    dense HLL mode the estimator can differ by a fraction of the sketch's
    ~1.6% σ — never more), and lands within 5% of truth; the oracle
    states both as TRUE.  Validated at sf0.01 (sparse, equal) AND sf0.1
    (dense, 0.4% apart)."""
    from polars_view_spark.operators.sketches import (
        hll_merge_estimate,
        hll_partial_sketches,
    )

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].withColumn("day", F.to_date("ts"))
    partials = hll_partial_sketches(ev, ["event_type"], "day", "user_id")
    merged = hll_merge_estimate(partials, ["event_type"])
    whole = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("__whole"),
    )
    return (
        merged.join(whole, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("long"),
            (
                F.abs(F.col("est_distinct") - F.col("__whole"))
                <= F.abs(F.col("__whole")) * 0.01
            ).alias("merged_within_1pct"),
            (
                F.abs(F.col("est_distinct") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("est_within_5pct"),
        )
        .orderBy("event_type")
    )


register(
    "x_sketch_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_1pct,
           TRUE AS est_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tables=("events",),
)(_x_sketch_rollup)


def _x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy hitters (operators/sketches.py:topk_partial_states
    / topk_merge): per-day frequent-items states combined into the global
    top-3 event types.  Tracked capacity exceeds the distinct-item count
    here, so estimates are exact and the oracle can state them; at real
    vocabulary scale the same pipeline degrades to bounded-error
    estimates (documented), which the self-asserting flavor
    (q_approx_aggregates idiom) would gate instead."""
    from polars_view_spark.operators.sketches import topk_merge, topk_partial_states

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].withColumn("day", F.to_date("ts"))
    states = topk_partial_states(ev, "day", "event_type")
    return topk_merge(states, 3).orderBy(F.col("est_count").desc(), "item")


register(
    "x_heavy_hitters",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM events GROUP BY event_type
    ORDER BY est_count DESC, item LIMIT 3
    """,
    tables=("events",),
)(_x_heavy_hitters)


def _x_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (operators/sketches.py): distinct-user
    union / intersection / difference of the 'click' and 'purchase'
    audiences estimated purely from two per-segment sketches — no join of
    raw events.  Emits the EXACT set sizes plus booleans asserting each
    sketch estimate is within 5% (q_approx_aggregates idiom)."""
    from polars_view_spark.operators.sketches import (
        theta_partial_sketches,
        theta_set_estimates,
    )

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].filter(F.col("event_type").isin("click", "purchase"))
    sk = theta_partial_sketches(ev, ["event_type"], "user_id")
    wide = sk.groupBy().pivot("event_type", ["click", "purchase"]).agg(
        F.first("theta_sketch")
    )
    est = theta_set_estimates("click", "purchase")
    ests = wide.select(
        F.expr(est["union"]).alias("__u"),
        F.expr(est["intersection"]).alias("__i"),
        F.expr(est["difference"]).alias("__d"),
    )
    exact = t["events"].agg(
        F.countDistinct(
            F.when(F.col("event_type").isin("click", "purchase"), F.col("user_id"))
        ).alias("exact_union"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("__c"),
    )
    exact_i = (
        t["events"]
        .filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(
            t["events"].filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    row = ests.crossJoin(exact).crossJoin(exact_i)
    tol = 0.05
    return row.select(
        F.col("exact_union").cast("long"),
        F.col("exact_intersection").cast("long"),
        (F.col("__c") - F.col("exact_intersection")).cast("long").alias(
            "exact_click_only"
        ),
        (F.abs(F.col("__u") - F.col("exact_union")) <= F.col("exact_union") * F.lit(tol)).alias(
            "union_within_5pct"
        ),
        (
            F.abs(F.col("__i") - F.col("exact_intersection"))
            <= F.greatest(F.col("exact_intersection") * F.lit(tol), F.lit(1.0))
        ).alias("intersection_within_5pct"),
        (
            F.abs(F.col("__d") - (F.col("__c") - F.col("exact_intersection")))
            <= F.greatest(
                (F.col("__c") - F.col("exact_intersection")) * F.lit(tol), F.lit(1.0)
            )
        ).alias("difference_within_5pct"),
    )


register(
    "x_audience_overlap",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS BIGINT) AS exact_union,
           CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)) AS BIGINT) AS exact_intersection,
           CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)) AS BIGINT) AS exact_click_only,
           TRUE AS union_within_5pct,
           TRUE AS intersection_within_5pct,
           TRUE AS difference_within_5pct
    """,
    tables=("events",),
)(_x_audience_overlap)


def _x_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style stride frame sampling over binary payloads
    (operators/multimodal.py:frame_sample) — Arrow-batched mapInPandas;
    payloads are ASCII here so the oracle mirrors byte frames with
    substr + md5."""
    from polars_view_spark.operators.multimodal import frame_sample, pack_binary

    t = load_tables(spark, sf_dir, "documents")
    packed = pack_binary(t["documents"], "text", "source")
    return frame_sample(packed, stride=2, frame_bytes=64).orderBy(
        "doc_id", "frame_idx"
    )


register(
    "x_multimodal_framesample",
    oracle="""
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS frame_idx,
           CAST(length(substr(text, CAST(u.i AS INT) * 64 + 1, 64)) AS BIGINT)
             AS n_frame_bytes,
           md5(substr(text, CAST(u.i AS INT) * 64 + 1, 64)) AS frame_md5
    FROM documents,
         UNNEST(generate_series(0, CAST(ceil(length(text) / 64.0) AS INT) - 1, 2))
           AS u(i)
    ORDER BY doc_id, frame_idx
    """,
    tables=("documents",),
)(_x_multimodal_framesample)


def _x_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-style byte-grid downsample (operators/multimodal.py:
    resize_payload): keep every 4th byte; oracle rebuilds the thumb with
    an ordered string_agg over the same stride."""
    from polars_view_spark.operators.multimodal import pack_binary, resize_payload

    t = load_tables(spark, sf_dir, "documents")
    packed = pack_binary(t["documents"], "text", "source")
    return resize_payload(packed, factor=4).orderBy("doc_id")


register(
    "x_multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes_in,
           CAST(COUNT(*) AS BIGINT) AS n_bytes_out,
           md5(string_agg(c, '' ORDER BY i)) AS thumb_md5
    FROM (
      SELECT doc_id, text, u.i, substr(text, CAST(u.i AS INT), 1) AS c
      FROM documents, UNNEST(generate_series(1, length(text), 4)) AS u(i)
    )
    GROUP BY doc_id, text
    ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_multimodal_resize)


GROUP_SAMPLE_K = 5


def _x_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k-per-group sampling: rank each (lang, source)
    group by the md5 hash of its ids and keep the first k — the
    reproducible replacement for per-group reservoir sampling when
    building eval slices.  ONE hash-partitioned shuffle (the rank
    window); the hash order is uniform, so the pick is an unbiased
    without-replacement sample that never changes across runs, retries,
    or engines."""
    t = load_tables(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    w = Window.partitionBy("lang", "source").orderBy(h.asc(), F.col("doc_id"))
    return (
        t["documents"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GROUP_SAMPLE_K)
        .select("doc_id", "lang", "source", F.col("rn").cast("long").alias("sample_rank"))
        .orderBy("lang", "source", "sample_rank")
    )


register(
    "x_group_sample",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS sample_rank
    FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT),
                        doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= {GROUP_SAMPLE_K}
    ORDER BY lang, source, sample_rank
    """,
    tables=("documents",),
)(_x_group_sample)


def _x_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-backed snapshot drift report (operators/sketches.py:
    snapshot_drift): the 'old' snapshot is the user_id < 75 slice, the
    'new' one the full events table — one row per metric with exact
    old/new/relative-change values and a self-asserting
    sketch-tracks-exact boolean (q_approx_aggregates idiom)."""
    from polars_view_spark.operators.sketches import snapshot_drift

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    return snapshot_drift(
        ev.filter(F.col("user_id") < 75), ev, "user_id", "value"
    ).orderBy("metric")


register(
    "x_snapshot_drift",
    oracle="""
    WITH o AS (SELECT CAST(COUNT(*) AS DOUBLE) AS r, CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS d,
                      quantile_cont(value, 0.5) AS m
               FROM events WHERE user_id < 75),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS r, CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS d,
                      quantile_cont(value, 0.5) AS m
               FROM events)
    SELECT 'distinct_keys' AS metric, ROUND(o.d, 4) AS old_exact, ROUND(n.d, 4) AS new_exact,
           ROUND((n.d - o.d) / o.d, 6) AS rel_change, TRUE AS sketch_ok FROM o, n
    UNION ALL
    SELECT 'rows', ROUND(o.r, 4), ROUND(n.r, 4), ROUND((n.r - o.r) / o.r, 6), TRUE FROM o, n
    UNION ALL
    SELECT 'value_median', ROUND(o.m, 4), ROUND(n.m, 4), ROUND((n.m - o.m) / o.m, 6), TRUE FROM o, n
    ORDER BY metric
    """,
    tables=("events",),
)(_x_snapshot_drift)


SPLIT_VAL_PCT = 10
SPLIT_TEST_PCT = 10


def _x_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test assignment: the doc's md5
    bucket (mod 100) maps to test / val / train bands — reproducible
    across runs, engines, and task retries (no rand()), stratified by
    construction since the hash is independent of lang/source.  Emits the
    per-(lang, split) counts so the gate checks the whole assignment."""
    t = load_tables(spark, sf_dir, "documents")
    h = "conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) % 100"
    split = (
        f"CASE WHEN {h} < {SPLIT_TEST_PCT} THEN 'test' "
        f"WHEN {h} < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val' "
        f"ELSE 'train' END"
    )
    return (
        t["documents"]
        .withColumn("split", F.expr(split))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


register(
    "x_train_val_test_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN h < {SPLIT_TEST_PCT} THEN 'test'
                WHEN h < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'train' END AS split,
           COUNT(*) AS n_docs
    FROM (SELECT lang,
                 (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) AS h
          FROM documents)
    GROUP BY 1, 2 ORDER BY lang, split
    """,
    tables=("documents",),
)(_x_train_val_test_split)


def _x_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split (operators/dedup.py:leakage_safe_split):
    documents are hashed into train/val/test by their near-dup cluster
    representative, so paraphrase clusters never straddle splits — the
    leakage-safe counterpart of x_train_val_test_split.  Emits the
    per-doc assignment so the gate checks every co-assignment."""
    from polars_view_spark.operators.dedup import leakage_safe_split

    t = load_tables(spark, sf_dir, "documents")
    return leakage_safe_split(
        t["documents"],
        "doc_id",
        "text",
        JACCARD_T,
        test_pct=SPLIT_TEST_PCT,
        val_pct=SPLIT_VAL_PCT,
    ).orderBy("doc_id")


register(
    "x_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{_MINHASH_ORACLE_BODY}}),
    edges AS (
      SELECT doc1 AS src, doc2 AS dst FROM pairs
      UNION ALL
      SELECT doc2 AS src, doc1 AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
    ),
    clusters AS (
      SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    ),
    base AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS rep
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, rep,
           CASE WHEN h < {SPLIT_TEST_PCT} THEN 'test'
                WHEN h < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'train' END AS split
    FROM (SELECT doc_id, rep,
                 (('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15))::BIGINT
                    % 100) AS h
          FROM base)
    ORDER BY doc_id
    """.replace("{_MINHASH_ORACLE_BODY}", _duck_minhash_oracle()),
    tables=("documents",),
)(_x_leakage_safe_split)


OUTLIER_MAD_K = 3.0  # robust z-score cut: |x - median| > K * MAD


def _x_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier filtering on events.value via median/MAD (exact
    percentiles — both engines interpolate identically): drop rows whose
    robust z-score exceeds K.  TWO aggregate passes (median, then MAD)
    plus one filter pass at scan speed — never a sort; the
    sketch-quantile variant for 100 TB swaps ``percentile`` for the KLL
    path (operators/sketches.py) with identical plumbing.  Emits
    per-event-type surviving counts + the cut bounds."""
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    med = ev.agg(F.expr("percentile(value, 0.5D)").alias("med"))
    mad = ev.crossJoin(med).agg(
        F.expr("percentile(abs(value - med), 0.5D)").alias("mad"),
        F.first("med").alias("med"),
    )
    kept = (
        ev.crossJoin(mad)
        .filter(F.abs(F.col("value") - F.col("med")) <= OUTLIER_MAD_K * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("value"), 4).alias("min_kept"),
            F.round(F.max("value"), 4).alias("max_kept"),
        )
        .orderBy("event_type")
    )
    return kept


register(
    "x_outlier_filter",
    oracle=f"""
    WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events),
         d AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad, ANY_VALUE(med) AS med
               FROM events, m)
    SELECT event_type, COUNT(*) AS n_kept,
           ROUND(MIN(value), 4) AS min_kept, ROUND(MAX(value), 4) AS max_kept
    FROM events, d
    WHERE abs(value - med) <= {OUTLIER_MAD_K} * mad
    GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
)(_x_outlier_filter)


def _x_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (operators/scale.py:salted_join),
    driver-gated: events (user_id is the skewable key) join a small
    per-user aggregate through the salt, then re-aggregate.  The salt is
    execution-layout only — results must equal a plain join, which is
    exactly what the oracle states (no salt in the SQL)."""
    from polars_view_spark.operators.scale import salted_join

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_user_events"))
    joined = salted_join(ev.select("event_id", "user_id", "value"), dim, "user_id")
    return (
        joined.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("value") * F.col("n_user_events")) + F.lit(1e-6), 2).alias(
                "weighted_sum"
            ),
        )
    )


register(
    "x_salted_skew_join",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(value * n_user_events) + 1e-6, 2) AS weighted_sum
    FROM events e
    JOIN (SELECT user_id, COUNT(*) AS n_user_events FROM events GROUP BY 1) d
      USING (user_id)
    """,
    tables=("events",),
)(_x_salted_skew_join)


def _x_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus card: document count, total whitespace tokens,
    length stats, and the language-distribution entropy (nats) — the
    summary block of a dataset datasheet.  Two aggregates total: one
    per-language pass (counts ride the same shuffle as the entropy
    terms), one 1-row rollup; no sort, no Python."""
    t = load_tables(spark, sf_dir, "documents")
    toks = "size(split(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'))"
    per_lang = (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(toks)).alias("tok"),
            F.sum(F.length("text")).alias("chars"),
        )
    )
    return per_lang.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.round(F.sum("chars") / F.sum("n"), 4).alias("mean_chars_per_doc"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        # H = ln(T) - sum(n*ln n)/T  (algebraic form: plain sums, no window)
        F.round(
            F.log(F.sum("n")) - F.sum(F.col("n") * F.log("n")) / F.sum("n") + 1e-9, 4
        ).alias("lang_entropy_nats"),
    )


register(
    "x_corpus_card",
    oracle="""
    WITH pl AS (
      SELECT lang, COUNT(*) AS n,
             SUM(length(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+'))) AS tok,
             SUM(length(text)) AS chars
      FROM documents GROUP BY lang
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(chars) / SUM(n), 4) AS mean_chars_per_doc,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(ln(SUM(n)) - SUM(n * ln(n)) / SUM(n) + 1e-9, 4)
             AS lang_entropy_nats
    FROM pl
    """,
    tables=("documents",),
)(_x_corpus_card)


# ---------------------------------------------------------------------------
# Round-4 additions
# ---------------------------------------------------------------------------


def _x_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020, CCNet —
    public paper): rank every document WITHIN its language by the composite
    quality score and NTILE(3) into head (best), middle, tail — the
    standard per-language quality partition a curation pipeline samples
    from.  Scale shape: ONE hash-partitioned window shuffle on lang; the
    score itself is the codegen-only quality_score projection.  Ties are
    broken by doc_id on the ROUNDED 6-dp score, so the tile boundaries are
    deterministic and engine-identical (NTILE's floor-division split is
    SQL-standard on both engines)."""
    from pyspark.sql import Window

    from polars_view_spark.operators.textstats import quality_score

    t = load_tables(spark, sf_dir, "documents")
    scored = quality_score(t["documents"])
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("tile", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "quality",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("tile")
            ).alias("bucket"),
        )
        .orderBy("doc_id")
    )


register(
    "x_quality_buckets",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round(0.4 * least({_q_words} / 100.0, 1.0)
                 + 0.3 * (1.0 - {_q_punct} / CAST(greatest(length(text), 1) AS DOUBLE))
                 + 0.3 * least({_q_stops} / CAST(greatest({_q_words}, 1) AS DOUBLE) * 5.0, 1.0),
               6) AS quality
      FROM documents
    )
    SELECT doc_id, lang, quality,
           (['head', 'middle', 'tail'])[
             NTILE(3) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)
           ] AS bucket
    FROM scored ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_quality_buckets)


def _trade_nation_pairs(t) -> DataFrame:
    """One (customer-nation ``u``, supplier-nation ``v``) row per
    lineitem — the directed trade-edge multiset shared by the graph
    entries (PageRank, triangle count); single-sourced so the two
    builders and their oracle CTEs cannot drift."""
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v"))
    )


#: DuckDB mirror of :func:`_trade_nation_pairs` — spliced into both graph
#: oracles.
_TRADE_EDGES_SQL = """
      SELECT c.c_nationkey AS u, s.s_nationkey AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def _x_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (operators/graph.py):
    nodes are nations, a directed edge customer-nation → supplier-nation
    weighs each lineitem shipped between them — the link-graph
    source-quality signal of a crawl pipeline, demonstrated on the TPC-H
    schema.  Integer-quantized arithmetic (kmeans discipline) lets the
    oracle replay all 3 iterations exactly; the edge aggregation is the
    only corpus-sized shuffle."""
    from polars_view_spark.operators.graph import pagerank

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    edges = (
        _trade_nation_pairs(t)
        .groupBy(F.col("u").alias("src"), F.col("v").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(edges, weight_col="w")
    return (
        ranks.join(t["nation"], ranks.v == F.col("n_nationkey"))
        .select("n_name", F.col("rank").alias("pagerank_micro"))
        .orderBy(F.col("pagerank_micro").desc(), "n_name")
    )


_PR_IT = """
  it{n} AS (
    SELECT nd.v,
           CAST(round((1.0 - 0.85) * 1000000 / nn.n
                + 0.85 * coalesce(inf.s, 0)) AS BIGINT) AS rank
    FROM nodes nd CROSS JOIN nn
    LEFT JOIN (
      SELECT e.dst, SUM(CAST(round(r.rank * e.w * 1.0 / o.ow) AS BIGINT)) AS s
      FROM edges e JOIN it{p} r ON e.src = r.v JOIN outw o ON e.src = o.src
      GROUP BY e.dst
    ) inf ON nd.v = inf.dst
  )"""

register(
    "x_nation_pagerank",
    oracle=("""
    WITH edges AS (
      SELECT u AS src, v AS dst, COUNT(*) AS w
      FROM ({TRADE}) d
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT src AS v FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    it0 AS (SELECT v, CAST(1000000 AS BIGINT) AS rank FROM nodes),"""
    + _PR_IT.format(n=1, p=0) + ","
    + _PR_IT.format(n=2, p=1) + ","
    + _PR_IT.format(n=3, p=2)
    + """
    SELECT n.n_name, r.rank AS pagerank_micro
    FROM it3 r JOIN nation n ON r.v = n.n_nationkey
    ORDER BY pagerank_micro DESC, n_name
    """).replace("{TRADE}", _TRADE_EDGES_SQL),
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
)(_x_nation_pagerank)


def _x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history built from a change
    stream: each order observes its customer's ``o_orderpriority``;
    consecutive runs of the same value collapse into
    ``[valid_from, valid_to)`` intervals (gaps-and-islands via a
    change-flag running sum), with ``valid_to`` = the next interval's
    start (NULL while current).  The standard dimension-table build of a
    warehouse ingest pipeline.

    Scale shape: two windows and the final group-by all share the
    ``o_custkey`` partitioning, so the whole plan is ONE shuffle; every
    expression is codegen (no UDF).  At 100 TB the run-length encoding
    happens partition-local after that single exchange.
    """
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = (
        t["orders"]
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .withColumn(
            "chg",
            F.when(
                F.lag("o_orderpriority").over(w) == F.col("o_orderpriority"), 0
            ).otherwise(1),
        )
        .withColumn("grp", F.sum("chg").over(w))
    )
    hist = runs.groupBy(
        F.col("o_custkey").alias("custkey"),
        "grp",
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    wl = Window.partitionBy("custkey").orderBy("valid_from", "grp")
    return (
        hist.withColumn("valid_to", F.lead("valid_from").over(wl))
        .select("custkey", "priority", "valid_from", "valid_to", "n_obs")
        .orderBy("custkey", "valid_from", "priority")
    )


register(
    "x_scd2_history",
    oracle="""
    WITH obs AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             CASE WHEN lag(o_orderpriority) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ) = o_orderpriority THEN 0 ELSE 1 END AS chg
      FROM orders
    ),
    runs AS (
      SELECT *, SUM(chg) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS grp
      FROM obs
    ),
    hist AS (
      SELECT o_custkey AS custkey, grp, o_orderpriority AS priority,
             MIN(o_orderdate) AS valid_from, COUNT(*) AS n_obs
      FROM runs GROUP BY o_custkey, grp, o_orderpriority
    )
    SELECT custkey, priority, valid_from,
           lead(valid_from) OVER (
             PARTITION BY custkey ORDER BY valid_from, grp
           ) AS valid_to,
           n_obs
    FROM hist ORDER BY custkey, valid_from, priority
    """,
    tables=("orders",),
)(_x_scd2_history)


#: 2^48 — the priority-sampling uniform's modulus; n_chars·2^48 stays far
#: inside int64 (553 · 2.8e14 ≈ 1.6e17), so the whole scheme is exact
#: integer arithmetic and therefore hash-identical across engines.
_PRIO_MOD = 1 << 48


def _x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via Duffield–Lund–Thorup
    PRIORITY SAMPLING: each doc draws a deterministic uniform
    ``u ∈ [1, 2^48]`` from its md5, gets priority ``w·2^48 div u``
    (weight = ``n_chars``), and the k largest priorities are kept —
    longer documents proportionally more likely, reproducible across
    runs and engines (all-integer: no pow/ln float drift to break the
    value-hash gate, unlike the classic exponential-key A-ES form).

    Scale shape: pure projection + TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver side of the exchange; no full
    sort, no UDF.
    """
    hx = hex64_sql("CAST(doc_id AS STRING)")
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.expr(
                f"(least(CAST(n_chars AS BIGINT), 32767L) * {_PRIO_MOD}) DIV "
                f"((({hx}) % {_PRIO_MOD}) + 1)"
            ).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(50)
    )


register(
    "x_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
           (least(CAST(n_chars AS BIGINT), 32767) * {_PRIO_MOD}) //
           ((({duck_hex64_sql("CAST(doc_id AS VARCHAR)")}) % {_PRIO_MOD}) + 1)
             AS priority
    FROM documents
    ORDER BY priority DESC, doc_id
    LIMIT 50
    """,
    tables=("documents",),
)(_x_weighted_sample)


#: The trailing z-score oracle, shared VERBATIM by the batch entry and
#: its streaming twin — one constant, so the documented "streaming ==
#: batch" guarantee is structural rather than copy-discipline.
_ANOMALY_ORACLE = """
    WITH st AS (
      SELECT event_id, user_id, value,
             CAST(round(value * 1000) AS BIGINT) AS q,
             SUM(CAST(round(value * 1000) AS BIGINT)) OVER w AS sv,
             SUM(CAST(round(value * 1000) AS BIGINT)
                 * CAST(round(value * 1000) AS BIGINT)) OVER w AS sq,
             COUNT(*) OVER w AS n
      FROM events
      WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value
    FROM st
    WHERE n >= 5 AND (q*n - sv)*(q*n - sv)*(n-1) > 4*n*(n*sq - sv*sv)
    ORDER BY event_id
    """


def _e_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly flags over an event stream: each event's value is
    z-scored against its user's trailing 10-event window, and events with
    ``|z| > 2`` (sample std, frames of ≥ 5 events) are surfaced.  The
    telemetry outlier screen of a monitoring pipeline.

    The test ``z² > 4`` is cross-multiplied into INTEGER arithmetic over
    millivalue quantities (``q = round(value·1000)``):
    ``(q·n − Σq)²·(n−1) > 4·n·(n·Σq² − (Σq)²)`` — exact in any
    accumulation order, so both engines flag identical rows (a float
    stddev would drift between Welford and naive accumulation).
    Magnitude bound: q ≤ 5·10⁵ ⇒ every term < 10¹⁵ ≪ 2⁶³.

    Scale shape: one window partitioned by ``user_id`` — a single
    shuffle, all codegen; the trailing frame is O(10) state per row.
    """
    from pyspark.sql import Window

    ev = (
        load_tables(spark, sf_dir, "events")["events"]
        # a NULL value cannot be z-scored and must not skew its
        # neighbors' stats (COUNT(*) would include the row while SUM
        # skips it) — drop it from the screen, same contract as the
        # streaming twin
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.expr("CAST(round(value * 1000) AS BIGINT)").alias("q"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    st = ev.select(
        "event_id",
        "user_id",
        "value",
        "q",
        F.sum("q").over(w).alias("sv"),
        F.sum(F.expr("q * q")).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        st.where(
            F.expr(
                "n >= 5 AND (q*n - sv)*(q*n - sv)*(n-1) > 4*n*(n*sq - sv*sv)"
            )
        )
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    )


register(
    "e_anomaly_zscore",
    oracle=_ANOMALY_ORACLE,
    tables=("events",),
)(_e_anomaly_zscore)


def _x_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping — the crawl-pipeline guard against one
    domain dominating the corpus (C4/RefinedWeb-style).  A SOFT cap: each
    source's quota is ``ceil(2·√n_source)`` (square-root capping keeps
    small sources whole while shaving heavy domains), and within a source
    docs are kept by length-desc rank (doc_id tiebreak).

    Scale shape: the per-source counts are a tiny aggregate BROADCAST back
    onto the corpus (no second corpus shuffle for the join), so the plan
    is one count shuffle + one window shuffle on the same key; IEEE sqrt
    is correctly rounded, so ``ceil(2·sqrt(n))`` is engine-exact.
    """
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, "documents")["documents"]
    quota = d.groupBy("source").agg(
        F.expr("CAST(ceil(2 * sqrt(COUNT(*))) AS BIGINT)").alias("quota")
    )
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.select("doc_id", "source", "n_chars").withColumn(
        "rank", F.row_number().over(w)
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("rank") <= F.col("quota"))
        .select("source", "doc_id", "rank", "quota")
        .orderBy("source", "rank")
    )


register(
    "x_domain_cap",
    oracle="""
    WITH quota AS (
      SELECT source, CAST(ceil(2 * sqrt(COUNT(*))) AS BIGINT) AS quota
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rank
      FROM documents
    )
    SELECT r.source, r.doc_id, r.rank, q.quota
    FROM ranked r JOIN quota q ON r.source = q.source
    WHERE r.rank <= q.quota
    ORDER BY r.source, r.rank
    """,
    tables=("documents",),
)(_x_domain_cap)


def _e_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trailing-window anomaly screen, driver-gated: the
    bounded-state ``applyInPandasWithState`` operator
    (streaming/events.py:streaming_anomaly) drained with
    ``availableNow`` into an append-mode memory sink must flag the
    IDENTICAL rows as the batch window SQL — the oracle is byte-for-byte
    the ``e_anomaly_zscore`` statement.  State is O(users·9) longs; the
    drain is one shuffle to the state partitioning."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_anomaly,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_anomaly(stream),
        "e_streaming_anomaly_sink",
        output_mode="append",
        state_partitions=8,
    )
    return spark.table("e_streaming_anomaly_sink").orderBy("event_id")


register(
    "e_streaming_anomaly",
    oracle=_ANOMALY_ORACLE,
    tables=("events",),
)(_e_streaming_anomaly)


def _x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the nation trade graph — the third classic
    distributed-graph primitive alongside PageRank (`x_nation_pagerank`)
    and connected components (`d_dedup_clusters`): community density /
    clustering-coefficient numerator for link-graph quality signals.

    The directed trade edges collapse to UNDIRECTED distinct pairs with
    ``least/greatest`` canonicalization, and triangles are enumerated
    once each via the ordered two-hop join ``e(a,b) ⋈ e(b,c) ⋈ e(a,c)``
    with ``a < b < c``.

    Scale shape: two hash joins over the (deduplicated) edge list — the
    standard MapReduce triangle enumeration; at web scale the join
    degree is bounded by orienting edges low-degree→high-degree, which
    the a<b<c ordering approximates for this graph.  Everything is
    codegen; output is one row per nation with its triangle count —
    nations in no triangle included with 0 via the outer join against
    the (broadcast-small) nation dim (ADVICE r04: the old inner join
    silently dropped them, overstating the docstring's coverage).
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    directed = _trade_nation_pairs(t)
    e = (
        directed.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("nk"))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        t["nation"]
        .join(per_node, F.col("nk") == F.col("n_nationkey"), "left")
        .select(
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("n_name")
    )


register(
    "x_triangle_count",
    oracle=("""
    WITH directed AS ({TRADE}),
    e AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM directed WHERE u <> v
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
    ),
    per_node AS (
      SELECT nk, COUNT(*) AS n_triangles
      FROM (
        SELECT x AS nk FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      )
      GROUP BY nk
    )
    SELECT n.n_name,
           CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nation n LEFT JOIN per_node p ON p.nk = n.n_nationkey
    ORDER BY n.n_name
    """).replace("{TRADE}", _TRADE_EDGES_SQL),
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
)(_x_triangle_count)


def _e_streaming_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming raw-file ingestion driver-gated with a FULL value-hash
    oracle (rare in the streaming family): deterministic per-nation
    ``.bin`` files → ``binaryFile`` file-source stream
    (streaming/events.py:read_binary_stream) drained with ``availableNow``
    → filename/size/decoded-content projection, oracled against the
    nation table the fixture derives from — so the streaming listing/
    read/decode chain must reproduce table-derived truth exactly like its
    batch twin t_binaryfile_ingest — fixture writer, projection, and
    oracle are SHARED with it (catalog.py:write_nation_bin_fixture /
    binary_ingest_projection / BINARY_INGEST_ORACLE), so the two paths
    cannot drift on payload format, glob decoy, or schema."""
    from polars_view_spark.catalog import (
        binary_ingest_projection,
        write_nation_bin_fixture,
    )
    from polars_view_spark.streaming.events import (
        read_binary_stream,
        run_stream_to_memory,
    )

    d = write_nation_bin_fixture(spark, sf_dir, "binstream")
    stream = read_binary_stream(spark, d, glob="*.bin")
    run_stream_to_memory(
        binary_ingest_projection(stream),
        "e_streaming_binary_sink",
        output_mode="append",
    )
    return spark.table("e_streaming_binary_sink").orderBy("name")


from polars_view_spark.catalog import BINARY_INGEST_ORACLE as _BIN_ORACLE  # noqa: E402

register(
    "e_streaming_binary_ingest",
    oracle=_BIN_ORACLE,
    tables=("nation",),
)(_e_streaming_binary_ingest)


def _e_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming effectively-once dedup driver-gated with a FULL value-hash
    oracle (streaming/events.py:streaming_dedup →
    ``dropDuplicatesWithinWatermark``): one events delivery file is landed
    TWICE with ascending mtimes — the at-least-once redelivery every file/
    Kafka source eventually produces — and the drained stream must emit
    each event exactly once, so the per-type aggregate reproduces
    table-derived truth over the un-replayed subset (a dropped first
    delivery or a leaked replay both break the hash).  The watermark
    horizon is set beyond the fixture's event-time span so the replay
    arrives inside it — the operator's documented contract (duplicates
    straddling more than the horizon need the batch pass); in production
    the horizon bounds state to O(keys within watermark).  The one-file
    copy is fixture generation, not a data path."""
    import glob as globmod
    import os
    import shutil

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_dedup,
    )

    t = load_tables(spark, sf_dir, "events")
    d = _scratch_dir("streamdedup", sf_dir)
    onefile = os.path.join(d, "onefile")
    (
        t["events"]
        .filter(F.col("event_id") % 10 == 0)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(onefile)
    )
    part = globmod.glob(os.path.join(onefile, "part-*.parquet"))[0]
    landing = os.path.join(d, "landing")
    os.makedirs(landing, exist_ok=True)
    base = 1_700_000_000  # fixed epoch: mtime order decides batch order
    for i in (1, 2):
        dst = os.path.join(landing, f"delivery_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (base + i, base + i))
    stream = read_event_stream(spark, landing)
    run_stream_to_memory(
        streaming_dedup(stream, watermark="3650 days"),
        "e_streaming_dedup_sink",
        output_mode="append",
        state_partitions=8,
    )
    return (
        spark.table("e_streaming_dedup_sink")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_id"),
            F.round(F.sum("value") + F.lit(1e-6), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


register(
    "e_streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           ROUND(SUM(value) + 1e-6, 2) AS total_value
    FROM events WHERE event_id % 10 = 0
    GROUP BY event_type ORDER BY event_type
    """,
    tables=("events",),
)(_e_streaming_dedup)


def _e_streaming_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending top-k driver-gated: watermarked per-(window,
    item) counts (streaming/events.py:streaming_trending) drained
    complete-mode with ``availableNow``, then ranked to the top-3 per
    window by topk_per_window — the same two-step a live deployment runs
    (rank-over-stream isn't expressible inside one streaming query; the
    rank applies per-trigger in foreachBatch).  Oracle = the identical
    batch SQL (hourly counts + row_number rank, deterministic tiebreak on
    the item name), so the streamed counts AND the rank boundary are
    value-hash checked."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_trending,
        topk_per_window,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_trending(stream), "e_streaming_trending_sink",
        state_partitions=8,
    )
    return topk_per_window(spark.table("e_streaming_trending_sink"), k=3)


register(
    "e_streaming_trending",
    oracle="""
    WITH c AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                    ORDER BY n_events DESC, event_type) AS rank FROM c)
    SELECT window_start, event_type, CAST(n_events AS BIGINT) AS n_events,
           rank
    FROM r WHERE rank <= 3 ORDER BY window_start, rank
    """,
    tables=("events",),
)(_e_streaming_trending)


def _e_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC snapshot maintenance driver-gated
    (streaming/events.py:streaming_upsert — the foreachBatch MERGE +
    atomic-swap pattern): delivery 1 is the full customer base, delivery 2
    a change batch (balance bump for custkey%7 keys, tombstone for
    custkey%11 keys), landed with ascending mtimes so the merge order is
    pinned.  After the drain the SNAPSHOT DIRECTORY — not the stream — is
    read back and aggregated per nation, so the oracle checks the whole
    apply/swap chain's final state: a lost update, a leaked tombstone or a
    half-applied batch all break the hash.  The per-delivery single-file
    copies are fixture generation, not a data path."""
    import glob as globmod
    import os
    import shutil

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.streaming.events import streaming_upsert

    t = load_tables(spark, sf_dir, "customer")
    c = t["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
    )
    d = _scratch_dir("streamupsert", sf_dir)
    landing = os.path.join(d, "landing")
    os.makedirs(landing, exist_ok=True)
    batch1 = c.withColumn("is_delete", F.lit(False))
    batch2 = (
        c.filter((F.col("c_custkey") % 11 == 0) | (F.col("c_custkey") % 7 == 0))
        .withColumn("is_delete", F.col("c_custkey") % 11 == 0)
        .withColumn(
            "cents",
            F.when(F.col("is_delete"), F.col("cents")).otherwise(
                F.col("cents") + F.lit(1000)
            ),
        )
    )
    base_mtime = 1_700_000_000  # mtime order decides batch order
    for i, frame in ((1, batch1), (2, batch2)):
        onefile = os.path.join(d, f"onefile_{i}")
        frame.coalesce(1).write.mode("overwrite").parquet(onefile)
        part = globmod.glob(os.path.join(onefile, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"delivery_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (base_mtime + i, base_mtime + i))
    changes = (
        spark.readStream.schema(
            "c_custkey BIGINT, c_nationkey BIGINT, cents BIGINT, is_delete BOOLEAN"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    snapshot = os.path.join(d, "snapshot")
    streaming_upsert(changes, snapshot, ["c_custkey"], "is_delete").awaitTermination()
    return (
        spark.read.parquet(snapshot)
        .groupBy(F.col("c_nationkey").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("nation")
    )


register(
    "e_streaming_upsert",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n,
           CAST(SUM(CASE WHEN c_custkey % 7 = 0
                         THEN CAST(round(c_acctbal * 100) AS BIGINT) + 1000
                         ELSE CAST(round(c_acctbal * 100) AS BIGINT) END)
                AS BIGINT) AS total_cents
    FROM customer
    WHERE c_custkey % 11 <> 0
    GROUP BY 1 ORDER BY 1
    """,
    tables=("customer",),
)(_e_streaming_upsert)


# Session confs that make Spark's runtime Bloom-filter injection (SPARK-32268,
# InjectRuntimeFilter) fire at test SF.  At real scale only `enabled` matters
# — the default thresholds (creation side < 10 MB after its selective filter,
# application side scan > 10 GB) are exactly the 100 TB operating point; at
# sf0.01 the application-side scan is far below 10 GB, so the floor is
# lowered to 1 byte for the demonstration.  autoBroadcastJoinThreshold=-1
# forces the shuffle join the runtime filter targets (at toy SF the optimizer
# would broadcast the dimension and there would be nothing to prune).
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@_contextmanager
def bloom_confs_scope(spark: SparkSession):
    """Set ``_BLOOM_CONFS``, yield, restore every key — the single
    save/restore used by both the entry and the plan gate so the two can
    never drift on which confs need putting back."""
    old = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join the runtime filter prunes: lineitem (fact) ⋈ the
    urgent subset of orders (selective creation side), re-aggregated per
    return flag.  Built separately from the entry so the plan gate
    (tests/test_plans.py) can assert ``might_contain`` on the pre-collect
    plan under ``_BLOOM_CONFS``."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = t["lineitem"].select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    joined = li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"])
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.round(F.sum("l_extendedprice") + F.lit(1e-6), 2).alias("total_price"),
        )
        .orderBy("l_returnflag")
    )


def _x_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter pruned join: Catalyst builds a Bloom filter
    from the selective side's join keys (``bloom_filter_agg``) and pushes
    ``might_contain`` down onto the fact side's scan, so rows that cannot
    match are dropped BEFORE the shuffle — at 100 TB this removes most of
    the fact table's shuffle write for any join against a filtered
    dimension, with zero query rewrite.  The entry scopes the
    ``_BLOOM_CONFS`` thresholds (set → run → restore) so the injection
    that happens by default at real scale also fires at test SF without
    leaking shuffle-join confs into the rest of the session; the result
    is pinned eagerly (localCheckpoint) while the confs are in force.
    The Bloom filter is execution-only pruning — results must equal the
    plain join, which is exactly what the oracle states (no bloom in the
    SQL)."""
    with bloom_confs_scope(spark):
        return bloom_join_frame(spark, sf_dir).localCheckpoint(eager=True)


register(
    "x_bloom_pruned_join",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           ROUND(SUM(l_extendedprice) + 1e-6, 2) AS total_price
    FROM lineitem
    JOIN (SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT') u
      ON l_orderkey = u.o_orderkey
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tables=("orders", "lineitem"),
)(_x_bloom_pruned_join)


def _t_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout end-to-end
    (operators/scale.py:write_zordered): documents are rewritten
    clustered on the Morton interleave of (doc_id, n_chars), read back,
    and a length-band slice is aggregated per language.  Because every
    output file covers a tight (doc_id, n_chars) rectangle, parquet
    footer min/max stats let the scan skip most files for a predicate on
    EITHER column — the multi-column file-skipping a linear sort can only
    give its first key (tests/test_scale.py:TestZorder pins the
    strip-vs-full-scan footer geometry; at 100 TB this is the lakehouse
    OPTIMIZE ZORDER layout paid once at write time).  Layout-only: the
    oracle runs the same slice on the raw table, so a row lost or
    duplicated by the quantize/interleave/range-write chain breaks the
    hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.scale import write_zordered

    t = load_tables(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("zorder", sf_dir), "docs")
    write_zordered(t["documents"], out, ["doc_id", "n_chars"], n_files=16)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("n_chars").between(100, 300))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
            F.sum(F.expr(hex64_sql("text")) % F.lit(1_000_003)).alias("text_hash_sum"),
        )
        .orderBy("lang")
    )


def _t_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API end-to-end
    (sources/synthetic.py:SynthEventsDataSource): a custom PYTHON-side
    source — the new-in-Spark-4 connector surface for systems with no
    JVM driver — generating deterministic synthetic events (every field
    md5-bridge-derived from the row id), read through partitioned Arrow
    RecordBatch yields and aggregated.  The oracle REGENERATES the same
    rows in DuckDB from generate_series + the same md5 arithmetic, so a
    custom source gets the full value-hash gate, not a rows-only check.
    All-integer fields (value carried as cents) keep the sums exact."""
    from polars_view_spark.sources.synthetic import read_synth_events

    df = read_synth_events(spark, n=2000, seed=7, partitions=5)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
            F.sum("value_cents").cast("bigint").alias("sum_cents"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("event_type")
    )


register(
    "t_python_datasource",
    oracle=f"""
    WITH seq AS (SELECT unnest(generate_series(0, 1999)) AS i),
    h AS (
      SELECT i, {duck_hex64_sql("CAST(i + 7 AS VARCHAR)")} AS h
      FROM seq
    ),
    ev AS (
      SELECT i AS event_id,
             CASE CAST(h % 5 AS INT) WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                  WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                  ELSE 'error' END AS event_type,
             h % 1000 AS user_id, h % 100000 AS value_cents
      FROM h
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(event_id) AS BIGINT) AS first_event
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    tables=(),
)(_t_python_datasource)


def _e_streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the Python Data Source API
    (sources/synthetic.py:SynthEventsStreamReader): the same
    deterministic generator consumed as a STREAM — offset-paged
    micro-batches (step 700 over 2000 rows ⇒ 3 batches), drained via
    processAllAvailable into a memory sink and aggregated.  The batch
    entry (t_python_datasource) and this one share the regenerating
    DuckDB oracle: micro-batch slicing must not change the row SET, the
    property checkpoint replay (readBetweenOffsets) depends on."""
    from polars_view_spark.sources.synthetic import drain_synth_stream

    df = drain_synth_stream(
        spark, "e_streaming_python_source_sink", n=2000, seed=7, step=700
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
            F.sum("value_cents").cast("bigint").alias("sum_cents"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("event_type")
    )


register(
    "e_streaming_python_source",
    oracle=f"""
    WITH seq AS (SELECT unnest(generate_series(0, 1999)) AS i),
    h AS (
      SELECT i, {duck_hex64_sql("CAST(i + 7 AS VARCHAR)")} AS h
      FROM seq
    ),
    ev AS (
      SELECT i AS event_id,
             CASE CAST(h % 5 AS INT) WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                  WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                  ELSE 'error' END AS event_type,
             h % 1000 AS user_id, h % 100000 AS value_cents
      FROM h
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(event_id) AS BIGINT) AS first_event
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    tables=(),
)(_e_streaming_python_source)


def _t_parquet_bloom_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed parquet layout end-to-end
    (operators/scale.py:write_bloom_indexed): documents gain an
    md5-fingerprint point-lookup key, are rewritten with a column-level
    Bloom filter on it (dictionary disabled for that column so the
    filter is unconditional), read back and aggregated.  The entry
    ASSERTS the footer geometry — the fingerprint column of the written
    file must actually carry the Bloom (tests/test_scale.py:
    TestParquetBloom additionally pins the no-false-negative guarantee
    and the opt-in default).  This is the point-lookup complement of
    t_zorder_layout's min/max range pruning: at 100 TB a needle query
    on the key skips every row group whose Bloom says definitely-absent.
    Layout-only — the oracle recomputes the same aggregate on the raw
    table, so any row lost or mangled by the rewrite breaks the hash."""
    import glob
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.scale import (
        bloom_columns_of,
        parquet_row_group_count,
        write_bloom_indexed,
    )

    t = load_tables(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("bloomwrite", sf_dir), "docs")
    with_fp = t["documents"].withColumn("fp", F.expr("md5(text)"))
    write_bloom_indexed(with_fp, out, {"fp": 10_000})
    # EVERY data-bearing file must carry the fp Bloom (filtering on
    # bloom presence instead would silently excuse missing filters and
    # prove only that one file has it); only genuinely empty part files
    # — zero row groups — are exempt
    blooms = {
        f: bloom_columns_of(spark, f)
        for f in glob.glob(out + "/part-*.parquet")
        if parquet_row_group_count(spark, f) > 0
    }
    assert blooms, "write produced no data-bearing files"
    assert all(cols == {"fp"} for cols in blooms.values()), blooms
    back = spark.read.parquet(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(hex64_sql("fp")) % F.lit(1_000_003)).alias("fp_hash_sum"),
        )
        .orderBy("lang")
    )


register(
    "t_parquet_bloom_write",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM((('0x' || substr(md5(md5(text)), 1, 15))::BIGINT) % 1000003)
                AS BIGINT) AS fp_hash_sum
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    tables=("documents",),
)(_t_parquet_bloom_write)


register(
    "t_zorder_layout",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM((('0x' || substr(md5(text), 1, 15))::BIGINT) % 1000003) AS BIGINT)
             AS text_hash_sum
    FROM documents
    WHERE n_chars BETWEEN 100 AND 300
    GROUP BY lang ORDER BY lang
    """,
    tables=("documents",),
)(_t_zorder_layout)


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion
# ---------------------------------------------------------------------------

HYBRID_K = 10
HYBRID_N_CANDIDATES = 50


def _s_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by reciprocal rank
    (operators/retrieval.py:hybrid_rrf_topk): the lexical leg ranks by
    shared distinct tokens through the bm25-style filtered-postings path,
    the dense leg is exact cosine over the aligned embeddings table, and
    RRF (Cormack et al. 2009, k=60) merges the two bounded top-N lists.
    The production hybrid-search shape: fusion cost is
    O(n_queries × n_candidates), independent of corpus size."""
    from polars_view_spark.operators.retrieval import hybrid_rrf_topk

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    return hybrid_rrf_topk(
        t["documents"],
        t["embeddings"],
        n_queries=ANN_N_QUERIES,
        k=HYBRID_K,
        n_candidates=HYBRID_N_CANDIDATES,
    ).orderBy("query_id", "rank")


def _duck_hybrid_rrf_oracle() -> str:
    from polars_view_spark.operators.retrieval import RRF_K

    _TOKS = duck_tokens_sql("text")  # single-sourced with tokens_expr
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             list_distinct({_TOKS})
               AS toks
      FROM documents
    ), qtok AS (
      SELECT doc AS query_id, unnest(toks) AS term
      FROM tok WHERE doc < {ANN_N_QUERIES}
    ), ctok AS (
      SELECT doc, unnest(toks) AS term FROM tok
    ), lex AS (
      SELECT q.query_id, c.doc, CAST(COUNT(*) AS BIGINT) AS shared
      FROM ctok c JOIN qtok q USING (term)
      WHERE c.doc != q.query_id
      GROUP BY q.query_id, c.doc
    ), lexr AS (
      SELECT query_id, doc,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY shared DESC, doc) AS lex_rank
      FROM lex
      QUALIFY lex_rank <= {HYBRID_N_CANDIDATES}
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {ANN_N_QUERIES}
    ), c AS (
      SELECT vec_id AS doc, embedding AS cv FROM embeddings
    ), ds AS (
      SELECT query_id, doc,
             round({duck_cosine_sql("qv", "cv")}, 6) AS score
      FROM q, c WHERE query_id != doc
    ), denr AS (
      SELECT query_id, doc,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc) AS dense_rank
      FROM ds
      QUALIFY dense_rank <= {HYBRID_N_CANDIDATES}
    ), fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc, d.doc) AS doc,
             l.lex_rank, d.dense_rank,
             round(COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + d.dense_rank), 0.0), 6)
               AS rrf_score
      FROM lexr l FULL OUTER JOIN denr d
        ON l.query_id = d.query_id AND l.doc = d.doc
    ), ranked AS (
      SELECT query_id, doc, rrf_score, lex_rank, dense_rank,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, doc) AS rank
      FROM fused
      QUALIFY rank <= {HYBRID_K}
    )
    SELECT query_id, doc AS doc_id, rrf_score,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(dense_rank AS INT) AS dense_rank,
           CAST(rank AS INT) AS rank
    FROM ranked ORDER BY query_id, rank
    """


register(
    "s_hybrid_rrf_topk",
    oracle=_duck_hybrid_rrf_oracle(),
    tables=("documents", "embeddings"),
)(_s_hybrid_rrf)


# ---------------------------------------------------------------------------
# MMR diversification rerank
# ---------------------------------------------------------------------------

MMR_K = 5
MMR_N_CANDIDATES = 20


def _s_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (operators/similarity.py:mmr_rerank): greedy
    λ-trade-off rerank of the exact-cosine top-20.  Every float —
    relevance, pair sims, and the rounded objective surface — is computed
    by the ENGINE; the greedy argmax/tiebreak chain runs per query in one
    Arrow-batched grouped kernel that only compares and copies those
    engine doubles (round-10 optimization: the previous k-step unrolled
    chain paid k-1 sequential job barriers).  The oracle unrolls the
    identical greedy chain in SQL, so every step's argmax, tiebreak and
    objective arithmetic stays value-hash gated."""
    from polars_view_spark.operators.similarity import mmr_rerank

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    return mmr_rerank(
        e,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        k=MMR_K,
        n_candidates=MMR_N_CANDIDATES,
    ).orderBy("query_id", "mmr_step")


def _duck_mmr_oracle() -> str:
    from polars_view_spark.operators.similarity import MMR_LAMBDA_TENTHS

    lt, rt = MMR_LAMBDA_TENTHS, 10 - MMR_LAMBDA_TENTHS
    head = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {ANN_N_QUERIES}
    ), c AS (
      SELECT vec_id AS doc, embedding AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, doc, round({duck_cosine_sql("qv", "cv")}, 6) AS rel
      FROM q, c WHERE query_id != doc
    ), cand AS (
      SELECT query_id, doc, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, doc) AS rnk
      FROM scored QUALIFY rnk <= {MMR_N_CANDIDATES}
    ), cv AS (
      SELECT c1.query_id, c1.doc, e.embedding AS v
      FROM cand c1 JOIN embeddings e ON e.vec_id = c1.doc
    ), sims AS (
      SELECT a.query_id, a.doc AS da, b.doc AS db,
             round({duck_cosine_sql("a.v", "b.v")}, 6) AS sim
      FROM cv a JOIN cv b
        ON a.query_id = b.query_id AND a.doc != b.doc
    ), sel_1 AS (
      SELECT query_id, doc, 1 AS mmr_step, rel,
             CAST(NULL AS DOUBLE) AS objective
      FROM cand WHERE rnk = 1
    ), all_1 AS (SELECT * FROM sel_1)"""
    steps = []
    for i in range(2, MMR_K + 1):
        p = i - 1
        steps.append(f"""
    , sel_{i} AS (
      SELECT query_id, doc, {i} AS mmr_step, rel, objective FROM (
        SELECT c.query_id, c.doc, c.rel,
               round(({lt} * c.rel - {rt} * ms.maxsim) / 10.0, 6)
                 AS objective,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY round(({lt} * c.rel - {rt} * ms.maxsim) / 10.0, 6)
                            DESC, c.doc) AS rn
        FROM cand c
        JOIN (SELECT s.query_id, s.da AS doc, MAX(s.sim) AS maxsim
              FROM sims s JOIN all_{p} a
                ON s.query_id = a.query_id AND s.db = a.doc
              GROUP BY s.query_id, s.da) ms
          ON ms.query_id = c.query_id AND ms.doc = c.doc
        WHERE NOT EXISTS (SELECT 1 FROM all_{p} a
                          WHERE a.query_id = c.query_id AND a.doc = c.doc)
      ) WHERE rn = 1
    ), all_{i} AS (
      SELECT * FROM all_{p} UNION ALL SELECT * FROM sel_{i}
    )""")
    tail = f"""
    SELECT query_id, doc AS doc_id, CAST(mmr_step AS INT) AS mmr_step,
           rel AS relevance, objective
    FROM all_{MMR_K} ORDER BY query_id, mmr_step
    """
    return head + "".join(steps) + tail


register(
    "s_mmr_rerank",
    oracle=_duck_mmr_oracle(),
    tables=("embeddings",),
)(_s_mmr_rerank)


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------


def _d_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/dedup.py:cdc_chunks): chunk
    boundaries land where the rolling 3-token window hash ≡ 0 (mod 8),
    so chunk hashes survive insertions — the shift-tolerant sub-document
    dedup primitive (fixed-width chunking reshuffles every downstream
    chunk).  ``n_dup`` is the corpus-wide occurrence count of each
    chunk's content hash: the boilerplate map."""
    from polars_view_spark.operators.dedup import cdc_chunks

    t = load_tables(spark, sf_dir, "documents")
    return cdc_chunks(t["documents"], "doc_id", "text").orderBy(
        "doc_id", "chunk_id"
    )


def _duck_cdc_oracle() -> str:
    from polars_view_spark.operators.dedup import CDC_DIVISOR, CDC_WIDTH

    _TOKS = duck_tokens_sql("text")
    lag_cols = ", ".join(
        f"lag(term, {j}) OVER w AS l{j}" for j in range(CDC_WIDTH - 1, 0, -1)
    )
    window_key = "concat_ws(chr(31), " + ", ".join(
        [f"l{j}" for j in range(CDC_WIDTH - 1, 0, -1)] + ["term"]
    ) + ")"
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             CAST(u.r['p'] - 1 AS INT) AS pos, u.r['t'] AS term
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
           UNNEST(list_transform(toks, (x, i) -> {{'p': i, 't': x}})) AS u(r)
    ), lagged AS (
      SELECT doc, pos, term, {lag_cols}
      FROM tok WINDOW w AS (PARTITION BY doc ORDER BY pos)
    ), flagged AS (
      SELECT doc, pos, term,
             CASE WHEN pos >= {CDC_WIDTH - 1}
                   AND ({duck_hex64_sql(window_key)} % {CDC_DIVISOR}) = 0
                  THEN 1 ELSE 0 END AS b
      FROM lagged
    ), cids AS (
      SELECT doc, pos, term,
             CAST(COALESCE(SUM(b) OVER (PARTITION BY doc ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS INT) AS chunk_id
      FROM flagged
    ), chunks AS (
      SELECT doc, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             string_agg(term, ' ' ORDER BY pos) AS chunk_text
      FROM cids GROUP BY doc, chunk_id
    ), hashed AS (
      SELECT doc, chunk_id, n_tokens,
             {duck_hex64_sql("chunk_text")} AS chunk_hash
      FROM chunks
    )
    SELECT doc AS doc_id, chunk_id, n_tokens, chunk_hash,
           CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS n_dup
    FROM hashed ORDER BY doc_id, chunk_id
    """


register(
    "d_cdc_chunks",
    oracle=_duck_cdc_oracle(),
    tables=("documents",),
)(_d_cdc_chunks)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance
# ---------------------------------------------------------------------------


def _x_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/scale.py:
    merge_partial_aggs): orders are split 80/20 into a 'yesterday' base
    and a 'today' delta, each aggregated independently, then MERGED —
    and the oracle recomputes the aggregate over the full table, so the
    gate proves merged-partials ≡ full-recompute.  Money is summed in
    integer cents (the repo's acctbal_cents pattern): incremental
    aggregation requires associative-exact accumulators — float sums
    drift with accumulation order, integers never do."""
    from polars_view_spark.operators.scale import merge_partial_aggs

    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"].withColumn(
        "cents", F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    )

    def part(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    base = part(o.filter("o_orderkey % 10 < 8"))
    delta = part(o.filter("o_orderkey % 10 >= 8"))
    merged = merge_partial_aggs(
        [base, delta],
        ["o_orderstatus"],
        {
            "n_orders": "sum",
            "sum_cents": "sum",
            "min_cents": "min",
            "max_cents": "max",
        },
    )
    return merged.select(
        "o_orderstatus",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.col("min_cents").cast("long").alias("min_cents"),
        F.col("max_cents").cast("long").alias("max_cents"),
        F.round((F.col("sum_cents") / 100.0) / F.col("n_orders") + F.lit(1e-9), 4)
        .alias("avg_total"),
    ).orderBy("o_orderstatus")


register(
    "x_incremental_agg",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           round((SUM(cents) / 100.0) / COUNT(*) + 1e-9, 4) AS avg_total
    FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tables=("orders",),
)(_x_incremental_agg)


def _x_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion pre-flight (operators/scale.py:
    join_explosion_profile) for the events-to-events self-join on
    user_id — the worst-case many-to-many shape: per-user output
    contribution is n², so the top rows ARE the keys that would
    dominate (or sink) the join.  Exact arithmetic end to end."""
    from polars_view_spark.operators.scale import join_explosion_profile

    t = load_tables(spark, sf_dir, "events")
    e = t["events"]
    return join_explosion_profile(e, e, "user_id", "user_id", k=20)


register(
    "x_join_explosion_check",
    oracle="""
    WITH la AS (
      SELECT user_id AS join_key, CAST(COUNT(*) AS BIGINT) AS n_left
      FROM events GROUP BY user_id
    ), per_key AS (
      SELECT join_key, n_left, n_left AS n_right,
             n_left * n_left AS out_rows
      FROM la
    ), tot AS (
      SELECT CAST(SUM(out_rows) AS BIGINT) AS total_out_rows FROM per_key
    )
    SELECT join_key, n_left, n_right, out_rows, total_out_rows,
           CAST(floor(CAST(out_rows AS DOUBLE) / total_out_rows * 1000000) AS BIGINT) AS share_ppm
    FROM per_key, tot
    ORDER BY out_rows DESC, join_key ASC LIMIT 20
    """,
    tables=("events",),
)(_x_join_explosion)


# ---------------------------------------------------------------------------
# Spark 4 SQL surfaces: pipe syntax + parameterized queries
# ---------------------------------------------------------------------------


def _q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`FROM … |> WHERE … |> AGGREGATE …`,
    SPARK-49555): the linear query form, run RAW (not through the
    dialect shim — pipe operators are a Spark-native surface with no
    reference/DuckDB counterpart; the oracle states the equivalent
    standard SQL).  Same plan as the standard form — the parser
    desugars before Catalyst ever sees it."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     ROUND(SUM(o_totalprice) + 1e-6, 2) AS total
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


register(
    "q_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice) + 1e-6, 2) AS total
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tables=("orders",),
)(_q_pipe_syntax)


def _q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named parameter markers,
    `spark.sql(query, args=…)`): values bind as typed literals at parse
    time — the injection-safe surface for user-supplied filters.  The
    oracle inlines the same values as literals, so binding semantics
    (typing, comparison) are value-hash gated."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS min_total
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice > :floor
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"status": "F", "floor": 50_000.0},
    )


register(
    "q_parameterized_sql",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tables=("orders",),
)(_q_parameterized_sql)


def _d_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood dedup candidates (operators/
    dedup.py:sorted_neighborhood_pairs, Hernández-Stolfo 1995 §4.2):
    block-partitioned sort-key window, next-w neighbor comparison, exact
    token-Jaccard verify, UNIONED over two independent sort keys (text
    prefix; reversed-text prefix) — the paper's actual multi-pass
    algorithm, and the O(passes·n·w) candidate generator whose cost never
    blows up on hot duplicate clusters (the banded generators' failure
    mode that the hot-bucket cap guards)."""
    from polars_view_spark.operators.dedup import sorted_neighborhood_pairs

    t = load_tables(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        t["documents"], "doc_id", "text", JACCARD_T
    ).orderBy("doc1", "doc2")


def _duck_sorted_neighborhood_oracle() -> str:
    from polars_view_spark.operators.dedup import (
        SN_BLOCK_LEN,
        SN_KEY_LEN,
        SN_PASSES,
        SN_WINDOW,
    )

    _TOKS = duck_tokens_sql("text")
    # same per-pass key expressions as dedup.sn_pass_keys, DuckDB
    # spelling — keys over the ASCII projection (DuckDB regexp_replace
    # needs the explicit 'g' flag; Spark replaces all matches by
    # default), so substr/reverse agree across engines (Spark counts
    # code points, DuckDB grapheme clusters; identical on ASCII)
    base = "lower(regexp_replace(trim(text, ' '), '[^ -~]', '', 'g'))"
    pass_keys = [
        f"substr({base}, 1, {SN_KEY_LEN})",
        f"substr(reverse({base}), 1, {SN_KEY_LEN})",
    ][:SN_PASSES]
    lead_cols = ", ".join(
        f"lead(doc, {i}) OVER w AS d{i}, lead(t, {i}) OVER w AS t{i}"
        for i in range(1, SN_WINDOW + 1)
    )
    stack = ", ".join(
        f"{{'d': d{i}, 'tt': t{i}}}" for i in range(1, SN_WINDOW + 1)
    )
    key_cols = ", ".join(f"{key} AS key{p}" for p, key in enumerate(pass_keys))
    pass_ctes = []
    pass_unions = []
    for p in range(len(pass_keys)):
        pass_ctes.append(f"""
    keyed{p} AS (
      SELECT doc, t, key{p} AS sn_key,
             substr(key{p}, 1, {SN_BLOCK_LEN}) AS sn_block
      FROM toks
    ), leads{p} AS (
      SELECT doc, t, {lead_cols}
      FROM keyed{p} WINDOW w AS (PARTITION BY sn_block ORDER BY sn_key, doc)
    )""")
        pass_unions.append(f"""
      SELECT doc, t, u.r['d'] AS doc2, u.r['tt'] AS t2
      FROM leads{p}, UNNEST([{stack}]) AS u(r)
      WHERE u.r['d'] IS NOT NULL""")
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, list_distinct({_TOKS}) AS t, {key_cols}
      FROM documents
    ), {", ".join(pass_ctes)}, stacked AS (
      {" UNION ALL ".join(pass_unions)}
    ), scored AS (
      SELECT least(doc, doc2) AS doc1, greatest(doc, doc2) AS doc2,
             round(len(list_intersect(t, t2))
                   / CAST(len(list_distinct(list_concat(t, t2))) AS DOUBLE),
                   6) AS jaccard
      FROM stacked
    )
    SELECT DISTINCT doc1, doc2, jaccard FROM scored
    WHERE jaccard >= {JACCARD_T} ORDER BY doc1, doc2
    """


register(
    "d_sorted_neighborhood_pairs",
    oracle=_duck_sorted_neighborhood_oracle(),
    tables=("documents",),
)(_d_sorted_neighborhood)


def _e_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (streaming/events.py:
    streaming_static_enrich_agg): the events STREAM broadcast-joins the
    static customer dim per micro-batch (stateless — only the window agg
    downstream holds state), drained availableNow into a complete-mode
    memory sink.  The oracle is the equivalent batch join+agg, so the
    stream/batch parity is value-hash gated."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_static_enrich_agg,
    )

    t = load_tables(spark, sf_dir, "customer")
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_static_enrich_agg(stream, t["customer"]),
        "e_streaming_static_join_sink",
        state_partitions=8,
    )
    return spark.table("e_streaming_static_join_sink").orderBy(
        "window_start", "segment"
    )


register(
    "e_streaming_static_join",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(value) + 1e-6, 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tables=("events", "customer"),
)(_e_streaming_static_join)


def _x_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations gate (operators/expectations.py): six
    constraint rules over orders — not-null, two ranges (one chosen to
    FAIL on real rows so non-zero violation counts are value-hash
    gated), accepted values, key uniqueness, and referential integrity
    against customer — all evaluated in ONE scan + ONE aggregate plus a
    broadcast key join."""
    from polars_view_spark.operators.expectations import expectations_report

    t = load_tables(spark, sf_dir, "orders", "customer")
    rules = [
        {"name": "key_not_null", "kind": "not_null", "column": "o_orderkey"},
        {"name": "key_unique", "kind": "unique", "column": "o_orderkey"},
        {
            "name": "price_positive",
            "kind": "in_range",
            "column": "o_totalprice",
            "low": 0,
            "high": 100000000,
        },
        {
            "name": "price_under_cap",
            "kind": "in_range",
            "column": "o_totalprice",
            "low": 0,
            "high": 300000,
        },
        {
            "name": "status_domain",
            "kind": "accepted_values",
            "column": "o_orderstatus",
            "values": ["F", "O", "P"],
        },
        {
            "name": "customer_exists",
            "kind": "references",
            "column": "o_custkey",
            "ref": "customer",
            "ref_column": "c_custkey",
        },
    ]
    return expectations_report(
        t["orders"], rules, {"customer": t["customer"]}
    )


register(
    "x_data_expectations",
    oracle="""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_key_not_null,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
                  AS BIGINT) AS v_key_unique,
             CAST(SUM(CASE WHEN (o_totalprice IS NULL OR o_totalprice < 0
                                 OR o_totalprice > 100000000)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
             CAST(SUM(CASE WHEN (o_totalprice IS NULL OR o_totalprice < 0
                                 OR o_totalprice > 300000)
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_price_under_cap,
             CAST(SUM(CASE WHEN (o_orderstatus IS NULL
                                 OR o_orderstatus NOT IN ('F', 'O', 'P'))
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain,
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_customer_exists
      FROM orders o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey
    ), stacked AS (
      SELECT n_checked, 'key_not_null' AS rule, v_key_not_null AS n_violations FROM agg
      UNION ALL SELECT n_checked, 'key_unique', v_key_unique FROM agg
      UNION ALL SELECT n_checked, 'price_positive', v_price_positive FROM agg
      UNION ALL SELECT n_checked, 'price_under_cap', v_price_under_cap FROM agg
      UNION ALL SELECT n_checked, 'status_domain', v_status_domain FROM agg
      UNION ALL SELECT n_checked, 'customer_exists', v_customer_exists FROM agg
    )
    SELECT rule, n_checked, n_violations, n_violations = 0 AS passed,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS BOOLEAN) AS sketch_ok
    FROM stacked ORDER BY rule
    """,
    tables=("orders", "customer"),
)(_x_data_expectations)


EXP_DIST_SNAP_MOD = 3  # orders with o_orderkey % 3 != 0 play the snapshot


def _x_expectations_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution expectations (operators/expectations.py, VERDICT r06
    task 7): quantile-range, distinct-range and drift-vs-snapshot rules
    evaluated in the SAME single scan+aggregate as the row rules — the
    exact metric decides pass/fail (cross-engine reproducible, one rule
    planted to FAIL so non-trivial verdicts are value-hash gated), and
    the KLL/Theta sketch twins (operators/sketches.py) are held to the
    exact values by self-asserting ``sketch_ok`` booleans, which the
    oracle states as literal TRUE (the x_sketch_rollup bar).  The drift
    snapshot is one 1-row broadcast aggregate of the
    ``o_orderkey % {mod} != 0`` slice."""
    from polars_view_spark.operators.expectations import expectations_report

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"]
    snapshot = orders.filter(F.col("o_orderkey") % EXP_DIST_SNAP_MOD != 0)
    rules = [
        {"name": "price_median_band", "kind": "quantile_range",
         "column": "o_totalprice", "q": 0.5, "low": 100000, "high": 400000},
        {"name": "price_p95_cap", "kind": "quantile_range",
         "column": "o_totalprice", "q": 0.95, "low": 0, "high": 300000},  # FAILS
        {"name": "cust_cardinality", "kind": "distinct_range",
         "column": "o_custkey", "low": 10, "high": 100000000},
        {"name": "median_drift_loose", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snapshot",
         "max_rel_change": 0.5},
        {"name": "median_drift_tight", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snapshot",
         "max_rel_change": 0.0001},  # FAILS at every SF
        {"name": "cust_drift", "kind": "distinct_drift",
         "column": "o_custkey", "ref": "snapshot", "max_rel_change": 0.5},
    ]
    return expectations_report(orders, rules, {"snapshot": snapshot})


def _x_expectations_persisted_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift gate against a PERSISTED snapshot profile
    (operators/expectations.py:snapshot_profile + ref_profiles): the
    snapshot slice is profiled ONCE (exact metric + sketch twin per
    drift rule, written as a few-row parquet) and the gate reads the
    profile instead of re-aggregating the snapshot — the
    build/query split for quality gates, same shape as
    d_minhash_index_query.  Held to the SAME oracle semantics as the
    live-frame drift rules in x_expectations_distribution: a profile
    value corrupted in the parquet round-trip breaks the value hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.expectations import (
        expectations_report,
        snapshot_profile,
    )

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"]
    rules = [
        {"name": "median_drift_loose", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snapshot",
         "max_rel_change": 0.5},
        {"name": "median_drift_tight", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snapshot",
         "max_rel_change": 0.0001},  # FAILS at every SF
        {"name": "cust_drift", "kind": "distinct_drift",
         "column": "o_custkey", "ref": "snapshot", "max_rel_change": 0.5},
    ]
    prof = os.path.join(_scratch_dir("exp_profile", sf_dir), "snapshot_profile")
    snapshot_profile(
        orders.filter(F.col("o_orderkey") % EXP_DIST_SNAP_MOD != 0), rules, prof
    )
    return expectations_report(orders, rules, ref_profiles={"snapshot": prof})


register(
    "x_expectations_persisted_drift",
    oracle=f"""
    WITH f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(o_totalprice, 0.5) AS med,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders
    ), s AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS med,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders WHERE o_orderkey % {EXP_DIST_SNAP_MOD} != 0
    ), stacked AS (
      SELECT n, 'median_drift_loose' AS rule,
             CAST(CASE WHEN abs((f.med - s.med) / s.med) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT) AS n_violations,
             round((f.med - s.med) / s.med, 6) AS observed FROM f, s
      UNION ALL SELECT n, 'median_drift_tight',
             CAST(CASE WHEN abs((f.med - s.med) / s.med) > 0.0001
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.med - s.med) / s.med, 6) FROM f, s
      UNION ALL SELECT n, 'cust_drift',
             CAST(CASE WHEN abs((f.dk - s.dk) / s.dk) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.dk - s.dk) / s.dk, 6) FROM f, s
    )
    SELECT rule, n AS n_checked, n_violations, n_violations = 0 AS passed,
           observed, TRUE AS sketch_ok
    FROM stacked ORDER BY rule
    """,
    tables=("orders",),
)(_x_expectations_persisted_drift)


def _e_streaming_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality gate (streaming/events.py:
    streaming_expectations_gate): each micro-batch of arriving orders is
    scored against a row rule + drift rules reading the PERSISTED
    snapshot profile, and the per-rule report lands partitioned by
    batch_id.  The entry streams the orders table as one file → one
    micro-batch, so the drained report is exactly the one-shot batch
    report and carries the full value-hash oracle (per-batch semantics
    for multi-batch streams are pinned in tests/test_streaming.py)."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.expectations import snapshot_profile
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_expectations_gate,
    )

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"]
    rules = [
        {"name": "key_not_null", "kind": "not_null", "column": "o_orderkey"},
        {"name": "median_drift_loose", "kind": "quantile_drift",
         "column": "o_totalprice", "q": 0.5, "ref": "snapshot",
         "max_rel_change": 0.5},
        {"name": "cust_drift", "kind": "distinct_drift",
         "column": "o_custkey", "ref": "snapshot", "max_rel_change": 0.5},
    ]
    scratch = _scratch_dir("stream_exp", sf_dir)
    prof = os.path.join(scratch, "profile")
    snapshot_profile(
        orders.filter(F.col("o_orderkey") % EXP_DIST_SNAP_MOD != 0), rules, prof
    )
    reader = spark.readStream.schema(orders.schema)
    src = _single_file_to_glob(reader, f"{sf_dir}/orders.parquet")
    stream = reader.parquet(src)
    sink = os.path.join(scratch, "reports")
    q = streaming_expectations_gate(
        stream, rules, sink, ref_profiles={"snapshot": prof}
    )
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "rule string, n_checked bigint, n_violations bigint, "
        "passed boolean, observed double, sketch_ok boolean, batch_id bigint",
    )
    return out.select(
        "rule", "n_checked", "n_violations", "passed", "observed", "sketch_ok"
    ).orderBy("rule")


register(
    "e_streaming_expectations",
    oracle=f"""
    WITH f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_nn,
             quantile_cont(o_totalprice, 0.5) AS med,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders
    ), s AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS med,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders WHERE o_orderkey % {EXP_DIST_SNAP_MOD} != 0
    ), stacked AS (
      SELECT n, 'key_not_null' AS rule, v_nn AS n_violations,
             CAST(NULL AS DOUBLE) AS observed,
             CAST(NULL AS BOOLEAN) AS sketch_ok FROM f
      UNION ALL SELECT n, 'median_drift_loose',
             CAST(CASE WHEN abs((f.med - s.med) / s.med) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.med - s.med) / s.med, 6), TRUE FROM f, s
      UNION ALL SELECT n, 'cust_drift',
             CAST(CASE WHEN abs((f.dk - s.dk) / s.dk) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.dk - s.dk) / s.dk, 6), TRUE FROM f, s
    )
    SELECT rule, n AS n_checked, n_violations, n_violations = 0 AS passed,
           observed, sketch_ok
    FROM stacked ORDER BY rule
    """,
    tables=("orders",),
)(_e_streaming_expectations)


register(
    "x_expectations_distribution",
    oracle=f"""
    WITH f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(o_totalprice, 0.5) AS med,
             quantile_cont(o_totalprice, 0.95) AS p95,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders
    ), s AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS med,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dk
      FROM orders WHERE o_orderkey % {EXP_DIST_SNAP_MOD} != 0
    ), stacked AS (
      SELECT n, 'price_median_band' AS rule,
             CAST(CASE WHEN f.med < 100000.0 OR f.med > 400000.0
                  THEN 1 ELSE 0 END AS BIGINT) AS n_violations,
             round(f.med, 4) AS observed FROM f
      UNION ALL SELECT n, 'price_p95_cap',
             CAST(CASE WHEN f.p95 < 0.0 OR f.p95 > 300000.0
                  THEN 1 ELSE 0 END AS BIGINT), round(f.p95, 4) FROM f
      UNION ALL SELECT n, 'cust_cardinality',
             CAST(CASE WHEN f.dk < 10.0 OR f.dk > 100000000.0
                  THEN 1 ELSE 0 END AS BIGINT), round(f.dk, 4) FROM f
      UNION ALL SELECT n, 'median_drift_loose',
             CAST(CASE WHEN abs((f.med - s.med) / s.med) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.med - s.med) / s.med, 6) FROM f, s
      UNION ALL SELECT n, 'median_drift_tight',
             CAST(CASE WHEN abs((f.med - s.med) / s.med) > 0.0001
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.med - s.med) / s.med, 6) FROM f, s
      UNION ALL SELECT n, 'cust_drift',
             CAST(CASE WHEN abs((f.dk - s.dk) / s.dk) > 0.5
                  THEN 1 ELSE 0 END AS BIGINT),
             round((f.dk - s.dk) / s.dk, 6) FROM f, s
    )
    SELECT rule, n AS n_checked, n_violations, n_violations = 0 AS passed,
           observed, TRUE AS sketch_ok
    FROM stacked ORDER BY rule
    """,
    tables=("orders",),
)(_x_expectations_distribution)


STREAM_ANN_N_QUERIES = 25


def _e_streaming_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN against the persisted IVF index
    (streaming/events.py:streaming_ann_lookup): the index is built ONCE,
    then a query-vector stream probes it per micro-batch.  Per-query
    independence from the fixed index makes the union of batches exactly
    the one-shot batch query — held to the SAME parametrized oracle as
    s_ann_ivf_topk / s_ann_index_persist, just with the stream's larger
    query set."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import ivf_build_index
    from polars_view_spark.streaming.events import (
        read_sink_or_empty,
        streaming_ann_lookup,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    scratch = _scratch_dir("stream_ann", sf_dir)
    idx = os.path.join(scratch, "ivf")
    sink = os.path.join(scratch, "hits")
    ivf_build_index(
        e, idx, seed_mod=IVF_SEED_MOD, scale=IVF_SCALE, max_seeds=IVF_MAX_SEEDS
    )
    from polars_view_spark.streaming.events import _single_file_to_glob

    reader = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1")
    src = _single_file_to_glob(reader, f"{sf_dir}/embeddings.parquet")
    stream = reader.parquet(src).filter(
        F.col("vec_id") < STREAM_ANN_N_QUERIES
    )
    q = streaming_ann_lookup(
        stream, idx, sink, k=ANN_K, n_probe=IVF_N_PROBE, scale=IVF_SCALE
    )
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "query_id long, neighbor_id long, score double, rank int, batch_id long",
    )
    return (
        out.select(
            "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
        ).orderBy("query_id", "rank")
    )


register(
    "e_streaming_ann_lookup",
    oracle=_ivf_topk_oracle(n_queries=STREAM_ANN_N_QUERIES),
    tables=("embeddings",),
)(_e_streaming_ann_lookup)


def _e_streaming_minhash_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup screen against the persisted MinHash index
    (streaming/events.py:streaming_minhash_lookup): the corpus index is
    built ONCE from the base docs, then the arriving-doc stream
    (``doc_id % 10 == 0``) is paired with it per micro-batch in the
    batch-invariant mode (arrival×corpus only, corpus-derived cap) — so
    the appended union equals the one-shot lookup, stated directly by
    the lookup-variant oracle."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.dedup import minhash_build_index
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_minhash_lookup,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    scratch = _scratch_dir("stream_mh", sf_dir)
    idx = os.path.join(scratch, "mh")
    sink = os.path.join(scratch, "pairs")
    minhash_build_index(
        d.filter(F.col("doc_id") % INCR_NEW_MOD != 0), idx, "doc_id", "text"
    )
    reader = spark.readStream.schema(d.schema).option("maxFilesPerTrigger", "1")
    src = _single_file_to_glob(reader, f"{sf_dir}/documents.parquet")
    stream = reader.parquet(src).filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    q = streaming_minhash_lookup(stream, idx, sink, "doc_id", "text", JACCARD_T)
    q.awaitTermination()
    out = read_sink_or_empty(
        spark, sink, "doc1 long, doc2 long, jaccard double, batch_id long"
    )
    return out.select("doc1", "doc2", "jaccard").orderBy("doc1", "doc2")


register(
    "e_streaming_minhash_lookup",
    oracle=_duck_minhash_oracle(lookup_mod=INCR_NEW_MOD),
    tables=("documents",),
)(_e_streaming_minhash_lookup)


def _d_minhash_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index APPEND + bands REFRESH — the full maintenance loop
    (operators/dedup.py:minhash_append_index / minhash_refresh_bands):
    the index is built from 80% of the corpus, the next 10% is APPENDED
    (per-doc rows to all three datasets, no corpus re-read), the bands
    dataset is refreshed (restoring exact bucket sizes — without it the
    stale-low ``__bsz`` makes equality with the oracle data-DEPENDENT;
    with it, guaranteed), and the final 10% queries the grown index in
    lookup mode.  Held to the SAME oracle as e_streaming_minhash_lookup
    over the full 90% corpus, so an append that loses rows, a refresh
    that miscounts a bucket, or a double-write breaks the value hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.dedup import (
        minhash_append_index,
        minhash_build_index,
        minhash_query_index,
        minhash_refresh_bands,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    arrivals = d.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    first = d.filter(
        (F.col("doc_id") % INCR_NEW_MOD != 0) & (F.col("doc_id") % INCR_NEW_MOD != 5)
    )
    second = d.filter(F.col("doc_id") % INCR_NEW_MOD == 5)
    idx = os.path.join(_scratch_dir("mh_append", sf_dir), "mh")
    minhash_build_index(first, idx, "doc_id", "text")
    minhash_append_index(second, idx, "doc_id", "text")
    minhash_refresh_bands(spark, idx)
    return minhash_query_index(
        spark, arrivals, idx, "doc_id", "text", JACCARD_T, include_batch_pairs=False
    ).orderBy("doc1", "doc2")


register(
    "d_minhash_index_append",
    oracle=_duck_minhash_oracle(lookup_mod=INCR_NEW_MOD),
    tables=("documents",),
)(_d_minhash_index_append)


def _q_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 `DECLARE`/`SET VARIABLE`): the
    script-parameterization face — a typed variable declared once, reused
    across statements, referenced like a column.  The oracle inlines the
    same value as a literal, so binding semantics are value-hash gated
    (the companion of q_parameterized_sql's per-call `args` markers)."""
    load_tables(spark, sf_dir, "orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE pvs_price_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql("SET VARIABLE pvs_price_floor = 150000.0")
    return spark.sql(
        """
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(MAX(o_totalprice), 2) AS max_total
        FROM orders WHERE o_totalprice > pvs_price_floor
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


register(
    "q_session_variable",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MAX(o_totalprice), 2) AS max_total
    FROM orders WHERE o_totalprice > 150000.0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tables=("orders",),
)(_q_session_variable)


def _q_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (SPARK-27561): a SELECT-list alias referenced
    by LATER expressions in the same SELECT — no subquery nesting for
    derived-from-derived columns.  DuckDB supports the identical form, so
    the oracle is the same statement shape."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               cents div 100 AS whole_units,
               whole_units % 1000 AS units_mod_k
        FROM orders
        WHERE o_orderkey < 500
        ORDER BY o_orderkey
        """
    )


register(
    "q_lateral_alias",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           cents // 100 AS whole_units,
           whole_units % 1000 AS units_mod_k
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
    """,
    tables=("orders",),
)(_q_lateral_alias)


def _x_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-trained linear quality classifier
    (operators/classifier.py:train_quality_classifier): hard-sigmoid
    logistic GD over signed-hash features, integer end-to-end, so the
    value hash pins the FULL 10-epoch training trajectory — the
    reference-vs-crawl filter step of the GPT-3/CCNet pipelines.  The
    label is a topic filter (docs whose token stream contains 'spark');
    the trained model separates it at balanced accuracy ~0.77 at every
    test SF, against a least-squares linear ceiling of ~0.70 on the same
    features (collision-contaminated bucket — see the module docstring)."""
    from polars_view_spark.operators.classifier import train_quality_classifier

    t = load_tables(spark, sf_dir, "documents")
    scored, _w = train_quality_classifier(
        t["documents"],
        "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')",
    )
    return scored.orderBy("doc")


def _duck_classifier_entry_oracle() -> str:
    from polars_view_spark.operators.classifier import duck_classifier_oracle

    return duck_classifier_oracle(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), '[ \\t\\n\\x0B\\f\\r]+'), 'spark')"
    )


register(
    "x_quality_classifier",
    oracle=_duck_classifier_entry_oracle(),
    tables=("documents",),
)(_x_quality_classifier)


def _x_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch-2 data ordering over documents
    (operators/packing.py:epoch_shuffle): seeded md5 shuffle to 8 shards
    with contiguous per-shard positions — one hash exchange, no global
    sort.  All integer, so the permutation itself is value-hash checked."""
    from polars_view_spark.operators.packing import epoch_shuffle

    t = load_tables(spark, sf_dir, "documents")
    return epoch_shuffle(t["documents"], epoch=2, n_shards=8).orderBy(
        "shard", "pos"
    )


def _duck_epoch_shuffle_oracle(epoch: int = 2, n_shards: int = 8) -> str:
    from polars_view_spark.functions.texthash import duck_hex64_sql

    key = duck_hex64_sql(f"concat(CAST(doc_id AS VARCHAR), ':', '{epoch}')")
    return f"""
    WITH keyed AS (
      SELECT doc_id, {key} AS k, ({key} % {n_shards})::INT AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1)::BIGINT AS pos
    FROM keyed ORDER BY shard, pos
    """


register(
    "x_epoch_shuffle",
    oracle=_duck_epoch_shuffle_oracle(),
    tables=("documents",),
)(_x_epoch_shuffle)


def _e_streaming_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate against the PERSISTED classifier
    (streaming/events.py:streaming_quality_score): the model is trained
    once on the corpus and saved (classifier.py:save_classifier), then the
    arriving-doc stream is scored per micro-batch with the frozen weights.
    Pure per-doc scoring of a fixed model ⇒ the appended union equals the
    one-shot batch scoring — so this entry is held to the SAME
    full-trajectory oracle as x_quality_classifier, projected to the
    label-free scoring columns."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.classifier import (
        save_classifier,
        train_quality_classifier,
    )
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_quality_score,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    scratch = _scratch_dir("stream_clf", sf_dir)
    model = os.path.join(scratch, "model")
    sink = os.path.join(scratch, "scores")
    _scored, w = train_quality_classifier(
        d, "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')"
    )
    save_classifier(spark, w, model)

    reader = spark.readStream.schema(d.schema).option("maxFilesPerTrigger", "1")
    src = _single_file_to_glob(reader, f"{sf_dir}/documents.parquet")
    stream = reader.parquet(src)
    q = streaming_quality_score(stream, model, sink)
    q.awaitTermination()
    out = read_sink_or_empty(
        spark, sink, "doc long, margin long, pred int, batch_id long"
    )
    return out.select("doc", "margin", "pred").orderBy("doc")


def _duck_streaming_clf_oracle() -> str:
    # the classifier oracle's scoring columns, label projected away (the
    # ingest gate doesn't know labels)
    return (
        "SELECT doc, margin, pred FROM ("
        + _duck_classifier_entry_oracle()
        + ") ORDER BY doc"
    )


register(
    "e_streaming_quality_score",
    oracle=_duck_streaming_clf_oracle(),
    tables=("documents",),
)(_e_streaming_quality_score)


CLUSTER_SAMPLE_K = 5


def _x_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset sampling: k-means the embeddings
    (operators/similarity.py:kmeans_assignments — the per-vector face of
    the x_kmeans_clusters trajectory), then keep an exact, deterministic
    md5-ranked sample of CLUSTER_SAMPLE_K per cluster — the
    diversity-preserving eval/seed-set draw (uniform sampling
    over-represents dense regions; per-cluster quotas don't).  One extra
    hash-partitioned window shuffle on top of the k-means passes.  The
    oracle replays the identical trajectory via the shared CTE chain and
    samples a3 with the same md5 rank."""
    from pyspark.sql import Window

    from polars_view_spark.operators.similarity import kmeans_assignments

    t = load_tables(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(t["embeddings"], k=4, iterations=2)
    h = F.expr(
        "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    w = Window.partitionBy("cluster_id").orderBy(h.asc(), F.col("vec_id"))
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CLUSTER_SAMPLE_K)
        .select(
            "cluster_id",
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("rn").cast("long").alias("sample_rank"),
        )
        .orderBy("cluster_id", "sample_rank")
    )


register(
    "x_cluster_balanced_sample",
    oracle=_duck_kmeans_oracle(
        tail=f"""SELECT CAST(cid AS INT) AS cluster_id, vec_id,
           CAST(rn AS BIGINT) AS sample_rank
    FROM (
      SELECT cid, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY cid
               ORDER BY (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT),
                        vec_id) AS rn
      FROM a3
    ) r WHERE rn <= {CLUSTER_SAMPLE_K}
    ORDER BY cluster_id, sample_rank"""
    ),
    tables=("embeddings",),
)(_x_cluster_balanced_sample)


def _q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (SPARK-42746, new in Spark 4): ordered
    string aggregation per group — the ANSI-2016 spelling of DuckDB's
    string_agg(expr, sep ORDER BY ...), so the oracle states the same
    deterministic concatenation."""
    load_tables(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT lang,
               listagg(CAST(doc_id AS STRING), ',')
                 WITHIN GROUP (ORDER BY doc_id) AS ids,
               COUNT(*) AS n
        FROM documents
        WHERE doc_id < 40
        GROUP BY lang ORDER BY lang
        """
    )


register(
    "q_listagg",
    oracle="""
    SELECT lang,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids,
           COUNT(*) AS n
    FROM documents
    WHERE doc_id < 40
    GROUP BY lang ORDER BY lang
    """,
    tables=("documents",),
)(_q_listagg)


CLF_WARM_SPLIT = 250


def _x_classifier_warm_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental classifier retraining (classifier.py warm start): train
    on the first CLF_WARM_SPLIT docs from zeros, fine-tune those weights
    on the REST (the arriving batch — the old slice is never re-read in
    phase B), then score the whole corpus with the final model.  The
    two-phase trajectory oracle pins the seed handoff, the phase-B label
    set, and the restarted decay schedule."""
    from polars_view_spark.operators.classifier import (
        score_with_weights,
        train_quality_classifier,
    )
    from polars_view_spark.operators.textstats import hashed_doc_vectors

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    label = "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')"
    _, w_a = train_quality_classifier(d.filter(f"doc_id < {CLF_WARM_SPLIT}"), label)
    _, w_b = train_quality_classifier(
        d.filter(f"doc_id >= {CLF_WARM_SPLIT}"), label, init_weights=w_a
    )
    labels = d.selectExpr("doc_id AS doc", f"CAST(({label}) AS INT) AS y")
    feats = (
        hashed_doc_vectors(d, "doc_id", "text", dim=64)
        .select("doc", "vec")
        .join(labels, "doc")
    )
    return (
        score_with_weights(feats, w_b, 64)
        .select("doc", "margin", "pred", "y")
        .orderBy("doc")
    )


def _duck_warm_start_entry_oracle() -> str:
    from polars_view_spark.operators.classifier import (
        duck_classifier_warm_start_oracle,
    )

    return duck_classifier_warm_start_oracle(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), '[ \\t\\n\\x0B\\f\\r]+'), 'spark')",
        CLF_WARM_SPLIT,
    )


register(
    "x_classifier_warm_start",
    oracle=_duck_warm_start_entry_oracle(),
    tables=("documents",),
)(_x_classifier_warm_start)


def _x_model_filtered_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-filtered training mix (operators/packing.py:
    build_model_filtered_mix): trained-classifier quality gate →
    fingerprint dedup → context-window packing, the GPT-3-shaped pipeline
    with the learned filter in place of x_training_mix_e2e's Gopher
    heuristic.  The oracle replays the WHOLE composition — 10-epoch
    training trajectory, margin filter, dedup window, pack cumsum — in
    one DuckDB statement."""
    from polars_view_spark.operators.packing import build_model_filtered_mix

    t = load_tables(spark, sf_dir, "documents")
    out = build_model_filtered_mix(
        t["documents"],
        "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')",
    )
    return out.select(
        "pack_shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("pack_shard", "chunk_id")


def _duck_model_filtered_mix_oracle() -> str:
    from polars_view_spark.functions.texthash import TOKEN_REGEX
    from polars_view_spark.operators.classifier import duck_classifier_ctes
    from polars_view_spark.operators.packing import CONTEXT_TOKENS as C

    ctes, w_final = duck_classifier_ctes(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), '[ \\t\\n\\x0B\\f\\r]+'), 'spark')"
    )
    ntok = f"len(regexp_extract_all(text, '{TOKEN_REGEX}'))"
    return (
        ctes
        + f""",
    score AS (
      SELECT l.doc, SUM(b.b * w.w) AS m
      FROM lab l JOIN bx b ON l.doc = b.doc JOIN {w_final} w ON b.i = w.i
      GROUP BY l.doc
    ),
    kept AS (
      SELECT d.doc_id, d.text, d.lang FROM documents d
      JOIN score s ON d.doc_id = s.doc WHERE s.m > 0
    ),
    fp AS (
      SELECT *, md5(regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
             AS fingerprint
      FROM kept
    ),
    deduped AS (
      SELECT doc_id, text, lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp) t WHERE rn = 1
    ),
    packbase AS (
      SELECT lang || '/' || CAST(doc_id % 4 AS VARCHAR) AS pack_shard,
             doc_id AS pack_id,
             CAST({ntok} AS BIGINT) AS n_tokens
      FROM deduped WHERE {ntok} > 0
    ),
    offs AS (
      SELECT pack_shard, pack_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY pack_id)
               AS end_off
      FROM packbase
    ),
    spanned AS (
      SELECT pack_shard, end_off, end_off - n_tokens AS start_off,
             CAST(unnest(generate_series(
               CAST(floor((end_off - n_tokens) / {C}.0) AS BIGINT),
               CAST(floor((end_off - 1) / {C}.0) AS BIGINT))) AS BIGINT) AS chunk_id
      FROM offs
    )
    SELECT pack_shard, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(least(end_off, (chunk_id + 1) * {C})
                    - greatest(start_off, chunk_id * {C})) AS BIGINT) AS n_tokens
    FROM spanned GROUP BY pack_shard, chunk_id ORDER BY pack_shard, chunk_id
    """
    )


register(
    "x_model_filtered_mix",
    oracle=_duck_model_filtered_mix_oracle(),
    tables=("documents",),
)(_x_model_filtered_mix)


def _x_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness (operators/retrieval.py:retrieval_eval)
    over the two-tower retriever: prefix queries (every 97th doc's first
    10 tokens) with self-retrieval truth — per-query truth_rank, hit@5,
    and integer reciprocal-rank (MRR numerator).  On this shared-vocab
    fixture self-retrieval mostly misses (the two-tower entry documents
    why); the harness's SEMANTICS — recall=1/MRR=10⁶ when retrieval
    works — are pinned on a planted rare-token corpus in
    tests/test_classifier.py.  The oracle rides the identical two-tower
    scoring CTEs plus the same integer metric arithmetic."""
    from polars_view_spark.operators.retrieval import retrieval_eval, two_tower_topk

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    queries = docs.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.expr(
            "concat_ws(' ', slice(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 1, "
            f"{TWO_TOWER_QUERY_TOKENS}))"
        ).alias("text"),
    )
    results = two_tower_topk(queries, docs, k=TWO_TOWER_K)
    truth = queries.select(
        F.col("doc_id").alias("query_id"), F.col("doc_id").alias("truth_id")
    )
    return retrieval_eval(results, truth, k=TWO_TOWER_K).orderBy("query_id")


register(
    "x_retrieval_eval",
    oracle=_duck_two_tower_oracle(
        tail=f"""SELECT t.query_id,
           COALESCE(CASE WHEN hit.rank <= {TWO_TOWER_K} THEN hit.rank END, 0)::BIGINT
             AS truth_rank,
           (CASE WHEN COALESCE(CASE WHEN hit.rank <= {TWO_TOWER_K} THEN hit.rank END, 0)
                      BETWEEN 1 AND 5 THEN 1 ELSE 0 END)::INT AS hit_at_5,
           (CASE WHEN COALESCE(CASE WHEN hit.rank <= {TWO_TOWER_K} THEN hit.rank END, 0) > 0
                 THEN 1000000 // COALESCE(CASE WHEN hit.rank <= {TWO_TOWER_K} THEN hit.rank END, 0)
                 ELSE 0 END)::BIGINT AS rr_ppm
    FROM (SELECT doc_id AS query_id FROM documents WHERE doc_id % 97 = 0) t
    LEFT JOIN (SELECT query_id, rank FROM r WHERE query_id = neighbor_id) hit
      ON t.query_id = hit.query_id
    ORDER BY t.query_id"""
    ),
    tables=("documents",),
)(_x_retrieval_eval)


SCORE_SNAP_MOD = 3  # docs with doc_id % 3 != 0 play the reference-score snapshot


def _e_streaming_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-monitoring gate (streaming/events.py:
    streaming_score_drift_gate): the classifier is trained and persisted,
    a snapshot profile of the REFERENCE slice's margins is built once,
    and the arriving-doc stream's scores are gated per micro-batch —
    margin-median and distinct-margin drift vs the profile (loose bounds,
    passing: their observed rel-change is still hash-pinned), a passing
    not-null/domain pair, and a deliberately failing cap (margin ≤ 0
    violates for every reference-like doc).  One file → one batch, so the
    drained report equals the one-shot report the oracle replays from the
    training trajectory."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.classifier import (
        save_classifier,
        score_with_weights,
        train_quality_classifier,
    )
    from polars_view_spark.operators.expectations import snapshot_profile
    from polars_view_spark.operators.textstats import hashed_doc_vectors
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_score_drift_gate,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    _, w = train_quality_classifier(
        d, "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')"
    )
    scratch = _scratch_dir("stream_drift", sf_dir)
    model = os.path.join(scratch, "model")
    prof = os.path.join(scratch, "profile")
    sink = os.path.join(scratch, "reports")
    save_classifier(spark, w, model)

    rules = [
        {"name": "margin_not_null", "kind": "not_null", "column": "margin"},
        {"name": "pred_domain", "kind": "accepted_values", "column": "pred",
         "values": [0, 1]},
        {"name": "pos_margin_cap", "kind": "in_range", "column": "margin",
         "low": -1_000_000_000, "high": 0},
        {"name": "median_margin_drift", "kind": "quantile_drift",
         "column": "margin", "q": 0.5, "ref": "scores",
         "max_rel_change": 0.9},
        {"name": "distinct_margin_drift", "kind": "distinct_drift",
         "column": "margin", "ref": "scores", "max_rel_change": 0.9},
    ]
    snap_feats = hashed_doc_vectors(
        d.filter(F.col("doc_id") % SCORE_SNAP_MOD != 0), "doc_id", "text", dim=64
    ).select("doc", "vec")
    snap_scores = score_with_weights(snap_feats, w, 64).select("doc", "margin", "pred")
    snapshot_profile(snap_scores, rules, prof)

    reader = spark.readStream.schema(d.schema)
    src = _single_file_to_glob(reader, f"{sf_dir}/documents.parquet")
    stream = reader.parquet(src)
    q = streaming_score_drift_gate(
        stream, model, rules, sink, ref_profiles={"scores": prof}
    )
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "rule string, n_checked bigint, n_violations bigint, "
        "passed boolean, observed double, sketch_ok boolean, batch_id bigint",
    )
    return out.select(
        "rule", "n_checked", "n_violations", "passed", "observed", "sketch_ok"
    ).orderBy("rule")


def _duck_score_drift_oracle() -> str:
    from polars_view_spark.operators.classifier import duck_classifier_ctes

    ctes, w_final = duck_classifier_ctes(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), "
        "'[ \\t\\n\\x0B\\f\\r]+'), 'spark')"
    )
    return (
        ctes
        + f""",
    scored AS (
      SELECT l.doc, CAST(SUM(b.b * w.w) AS BIGINT) AS m
      FROM lab l JOIN bx b ON l.doc = b.doc JOIN {w_final} w ON b.i = w.i
      GROUP BY l.doc
    ),
    fm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(m, 0.5) AS med,
             CAST(COUNT(DISTINCT m) AS DOUBLE) AS dk,
             CAST(SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
             CAST(SUM(CASE WHEN (CASE WHEN m > 0 THEN 1 ELSE 0 END) NOT IN (0, 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
             CAST(SUM(CASE WHEN m < -1000000000 OR m > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_cap
      FROM scored
    ),
    sm AS (
      SELECT quantile_cont(m, 0.5) AS med, CAST(COUNT(DISTINCT m) AS DOUBLE) AS dk
      FROM scored WHERE doc % {SCORE_SNAP_MOD} != 0
    ),
    stacked AS (
      SELECT n, 'margin_not_null' AS rule, v_nn AS n_violations,
             CAST(NULL AS DOUBLE) AS observed,
             CAST(NULL AS BOOLEAN) AS sketch_ok FROM fm
      UNION ALL SELECT n, 'pred_domain', v_dom, NULL, NULL FROM fm
      UNION ALL SELECT n, 'pos_margin_cap', v_cap, NULL, NULL FROM fm
      UNION ALL SELECT n, 'median_margin_drift',
             CAST(CASE WHEN abs((fm.med - sm.med) / sm.med) > 0.9
                  THEN 1 ELSE 0 END AS BIGINT),
             round((fm.med - sm.med) / sm.med, 6), TRUE FROM fm, sm
      UNION ALL SELECT n, 'distinct_margin_drift',
             CAST(CASE WHEN abs((fm.dk - sm.dk) / sm.dk) > 0.9
                  THEN 1 ELSE 0 END AS BIGINT),
             round((fm.dk - sm.dk) / sm.dk, 6), TRUE FROM fm, sm
    )
    SELECT rule, n AS n_checked, n_violations, n_violations = 0 AS passed,
           observed, sketch_ok
    FROM stacked ORDER BY rule
    """
    )


register(
    "e_streaming_score_drift",
    oracle=_duck_score_drift_oracle(),
    tables=("documents",),
)(_e_streaming_score_drift)


def _x_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/packing.py:curriculum_order) over
    the trained classifier's margins: difficulty buckets of width 32
    (floor division, monotone across negative margins), within-bucket
    order the epoch-1 reproducible shuffle — the easy→hard scheduling
    pass composed directly on x_quality_classifier's scores."""
    from polars_view_spark.operators.classifier import train_quality_classifier
    from polars_view_spark.operators.packing import curriculum_order

    t = load_tables(spark, sf_dir, "documents")
    scored, _w = train_quality_classifier(
        t["documents"],
        "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')",
    )
    return curriculum_order(scored, "margin", epoch=1, bucket_width=32, id_col="doc").orderBy(
        "bucket", "pos"
    )


def _duck_curriculum_oracle() -> str:
    from polars_view_spark.functions.texthash import duck_hex64_sql
    from polars_view_spark.operators.classifier import duck_classifier_ctes

    ctes, w_final = duck_classifier_ctes(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), "
        "'[ \\t\\n\\x0B\\f\\r]+'), 'spark')"
    )
    key = duck_hex64_sql("concat(CAST(doc AS VARCHAR), ':', '1')")
    return (
        ctes
        + f""",
    scored AS (
      SELECT l.doc, CAST(SUM(b.b * w.w) AS BIGINT) AS m
      FROM lab l JOIN bx b ON l.doc = b.doc JOIN {w_final} w ON b.i = w.i
      GROUP BY l.doc
    ),
    keyed AS (
      SELECT doc, CAST((m - ((m % 32) + 32) % 32) // 32 AS BIGINT) AS bucket,
             {key} AS k
      FROM scored
    )
    SELECT doc, bucket,
           (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY k, doc) - 1)::BIGINT AS pos
    FROM keyed ORDER BY bucket, pos
    """
    )


register(
    "x_curriculum_order",
    oracle=_duck_curriculum_oracle(),
    tables=("documents",),
)(_x_curriculum_order)


def _x_source_quality_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-health card — the dashboard a data-sourcing team
    reads before renewing a crawl contract: doc counts, Gopher-rule pass
    counts, exact within-source duplicate counts (docs minus distinct
    fingerprints), and the trained classifier's margin mass (sum + scored
    count + truncated mean ppm — all integers, so the whole card is
    hash-exact).  ONE pass over the corpus for the heuristics + the
    classifier's bounded training; the margin join is doc-keyed."""
    from polars_view_spark.operators.classifier import train_quality_classifier
    from polars_view_spark.operators.textstats import (
        fingerprint,
        gopher_verdict_sql,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    scored, _w = train_quality_classifier(
        d, "array_contains(split(lower(trim(text)), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), 'spark')"
    )
    enriched = (
        fingerprint(d)
        .withColumn("gp", F.expr(gopher_verdict_sql("text")))
        .join(scored.select(F.col("doc").alias("doc_id"), "margin"), "doc_id", "left")
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("CASE WHEN gp THEN 1 ELSE 0 END")).cast("long").alias("n_gopher_pass"),
            (F.count("fingerprint") - F.countDistinct("fingerprint"))
            .cast("long")
            .alias("n_dup_docs"),
            F.count("margin").cast("long").alias("n_scored"),
            F.sum("margin").cast("long").alias("sum_margin"),
        )
        .withColumn(
            "margin_mean_ppm",
            F.expr(
                "CASE WHEN n_scored > 0 THEN (1000000 * sum_margin) DIV n_scored"
                " ELSE 0 END"
            ).cast("long"),
        )
        .orderBy("source")
    )


def _duck_source_card_oracle() -> str:
    from polars_view_spark.operators.classifier import duck_classifier_ctes

    ctes, w_final = duck_classifier_ctes(
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), "
        "'[ \\t\\n\\x0B\\f\\r]+'), 'spark')"
    )
    return (
        ctes
        + f""",
    scored AS (
      SELECT l.doc, CAST(SUM(b.b * w.w) AS BIGINT) AS margin
      FROM lab l JOIN bx b ON l.doc = b.doc JOIN {w_final} w ON b.i = w.i
      GROUP BY l.doc
    ),
    enriched AS (
      SELECT d.source,
             md5(regexp_replace(lower(trim(d.text, ' ')),
                 '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp,
             (CASE WHEN {_duck_gopher_pass()} THEN 1 ELSE 0 END) AS gp,
             s.margin
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(gp) AS BIGINT) AS n_gopher_pass,
           CAST(COUNT(fp) - COUNT(DISTINCT fp) AS BIGINT) AS n_dup_docs,
           CAST(COUNT(margin) AS BIGINT) AS n_scored,
           CAST(SUM(margin) AS BIGINT) AS sum_margin,
           CAST(CASE WHEN COUNT(margin) > 0
                THEN (1000000 * SUM(margin)) // COUNT(margin)
                ELSE 0 END AS BIGINT) AS margin_mean_ppm
    FROM enriched GROUP BY source ORDER BY source
    """
    )


register(
    "x_source_quality_card",
    oracle=_duck_source_card_oracle(),
    tables=("documents",),
)(_x_source_quality_card)


ROUTER_CLASSES = ("spark", "query", "stream")


def _x_topic_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass one-vs-rest topic router (operators/classifier.py:
    train_topic_router): three token-presence topics trained over ONE
    shared feature frame, every document routed to its argmax margin —
    the domain-routing step that fans a crawl out to per-topic pipelines.
    The oracle replays all three trajectories and the tie-broken argmax."""
    from polars_view_spark.operators.classifier import train_topic_router

    t = load_tables(spark, sf_dir, "documents")
    tok = (
        "array_contains(split(lower(trim(text)), "
        "'[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), '{w}')"
    )
    routed, _models = train_topic_router(
        t["documents"], [(w, tok.format(w=w)) for w in ROUTER_CLASSES]
    )
    return routed.orderBy("doc")


def _duck_router_entry_oracle() -> str:
    from polars_view_spark.operators.classifier import duck_router_oracle

    dtok = (
        "list_contains(regexp_split_to_array(lower(trim(t.text, ' ')), "
        "'[ \\t\\n\\x0B\\f\\r]+'), '{w}')"
    )
    return duck_router_oracle([(w, dtok.format(w=w)) for w in ROUTER_CLASSES])


register(
    "x_topic_router",
    oracle=_duck_router_entry_oracle(),
    tables=("documents",),
)(_x_topic_router)


def _e_streaming_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming domain routing against the persisted per-class heads
    (streaming/events.py:streaming_router): the three topic models are
    trained once and saved, then the arriving-doc stream is routed per
    micro-batch into a route/batch_id-partitioned sink — each topic
    pipeline tails only its own route= subtree.  Pure per-doc function of
    fixed models ⇒ held to the SAME oracle as x_topic_router."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.classifier import (
        save_classifier,
        train_topic_router,
    )
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_router,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    tok = (
        "array_contains(split(lower(trim(text)), "
        "'[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), '{w}')"
    )
    _routed, models = train_topic_router(
        d, [(w, tok.format(w=w)) for w in ROUTER_CLASSES]
    )
    scratch = _scratch_dir("stream_route", sf_dir)
    paths = []
    for name in ROUTER_CLASSES:
        p = os.path.join(scratch, f"head_{name}")
        save_classifier(spark, models[name], p)
        paths.append((name, p))
    sink = os.path.join(scratch, "routed")

    reader = spark.readStream.schema(d.schema)
    src = _single_file_to_glob(reader, f"{sf_dir}/documents.parquet")
    stream = reader.parquet(src)
    q = streaming_router(stream, paths, sink)
    q.awaitTermination()
    out = read_sink_or_empty(
        spark, sink, "doc long, margin long, route string, batch_id long"
    )
    return out.select("doc", "route", "margin").orderBy("doc")


register(
    "e_streaming_router",
    oracle=_duck_router_entry_oracle(),
    tables=("documents",),
)(_e_streaming_router)


def _q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ANSI-mode safe arithmetic: under default ANSI semantics a
    division by zero or an overflowing cast THROWS, and ``try_divide`` /
    ``try_cast`` are the sanctioned NULL-on-error escape hatches (the
    same contract readers.py uses for euro-number normalization).  The
    oracle states the equivalent guarded CASE forms — DuckDB's integer
    ``/`` never throws, so the guard IS the semantics being verified."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               try_divide(CAST(round(o_totalprice * 100) AS BIGINT),
                          o_custkey % 5) AS per_bucket,
               try_cast(o_orderpriority AS INT) AS prio_num,
               try_cast(substring(o_orderpriority, 1, 1) AS INT) AS prio_digit
        FROM orders
        WHERE o_orderkey < 400
        ORDER BY o_orderkey
        """
    )


register(
    "q_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 5 = 0 THEN NULL
                ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                     / CAST(o_custkey % 5 AS DOUBLE) END AS per_bucket,
           TRY_CAST(o_orderpriority AS INT) AS prio_num,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_digit
    FROM orders
    WHERE o_orderkey < 400
    ORDER BY o_orderkey
    """,
    tables=("orders",),
)(_q_try_arithmetic)


# ---------------------------------------------------------------------------
# Round-7 continuation: unicode canonicalization, URL canonicalization,
# probabilistic record linkage, and the observe()-backed zero-extra-scan
# write audit.
# ---------------------------------------------------------------------------

#: The mixed-composition suffixes for the NFC parity entry, single-sourced
#: so the Spark literal and the DuckDB chr() construction cannot drift:
#: (python string, duckdb SQL expression).
_NFC_SUFFIXES = (
    ("éclair", "'e' || chr(769) || 'clair'"),          # decomposed é
    ("éclair", "chr(233) || 'clair'"),                  # composed é
    ("café ﬁle", "'cafe' || chr(769) || ' ' || chr(64257) || 'le'"),
)


def _x_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization parity: build per-doc strings that mix composed,
    decomposed, and compatibility-class codepoints, normalize with the
    Arrow-batched ``nfc_normalize`` operator (Spark has no built-in —
    see its docstring), and report length-before/after, a changed flag,
    and the md5 of the normalized bytes.  The oracle runs DuckDB's
    native ``nfc_normalize`` over the identically-constructed strings —
    a full cross-engine byte-parity check of the normalization pass that
    guards every hash-keyed dedup operator in this package."""
    from polars_view_spark.operators.textstats import nfc_normalize

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].filter(F.col("doc_id") < 400)
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_NFC_SUFFIXES[0][0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_NFC_SUFFIXES[1][0]))
        .otherwise(F.lit(_NFC_SUFFIXES[2][0]))
    )
    mixed = d.select(
        "doc_id", F.concat(F.substring("text", 1, 12), suffix).alias("raw")
    )
    out = nfc_normalize(mixed, "raw")
    return out.select(
        "doc_id",
        F.length("raw").cast("long").alias("raw_len"),
        F.length("raw_nfc").cast("long").alias("nfc_len"),
        (F.col("raw") != F.col("raw_nfc")).alias("changed"),
        F.md5("raw_nfc").alias("nfc_hash"),
    ).orderBy("doc_id")


register(
    "x_unicode_normalize",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             substring(text, 1, 12) ||
             CASE WHEN doc_id % 3 = 0 THEN {_NFC_SUFFIXES[0][1]}
                  WHEN doc_id % 3 = 1 THEN {_NFC_SUFFIXES[1][1]}
                  ELSE {_NFC_SUFFIXES[2][1]} END AS raw
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS raw_len,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len,
           raw <> nfc_normalize(raw) AS changed,
           md5(nfc_normalize(raw)) AS nfc_hash
    FROM m ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_unicode_normalize)


def _x_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over a deterministically-synthesized raw-URL
    column (scheme/host case noise, default and non-default ports,
    ``/index.html`` tails, utm/ref tracking params, fragments — the
    variants crawl feeds actually emit).  Spark side is pure codegen
    (``parse_url`` + lambda filter, see ``url_canonicalize``); the
    oracle re-parses the same URLs with RE2 regexps and DuckDB list
    lambdas.  The canonical key is what per-domain caps (``domain_cap``)
    and URL-keyed exact dedup must group on."""
    from polars_view_spark.operators.textstats import url_canonicalize

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].filter(F.col("doc_id") < 300)
    sid = F.col("doc_id").cast("string")
    raw = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
                F.lit("https://")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.upper("source")).otherwise(
                F.col("source")
            ),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(":443"))
            .when(F.col("doc_id") % 11 == 0, F.lit(":8443"))
            .otherwise(F.lit("")),
            F.lit("/docs/"),
            sid,
            F.when(F.col("doc_id") % 3 == 0, F.lit("/index.html")).otherwise(
                F.lit("")
            ),
            F.lit("?utm_source=feed&id="),
            sid,
            F.when(F.col("doc_id") % 4 == 0, F.lit("&ref=tw")).otherwise(
                F.lit("")
            ),
            F.lit("&q=spark#frag"),
        ).alias("url"),
    )
    out = url_canonicalize(raw, "url")
    return out.select("doc_id", "canon_url", "registered_domain").orderBy(
        "doc_id"
    )


register(
    "x_url_canonicalize",
    oracle=r"""
    WITH r AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END)
             || '.Example.COM'
             || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                      WHEN doc_id % 11 = 0 THEN ':8443' ELSE '' END)
             || '/docs/' || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/index.html' ELSE '' END)
             || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '&ref=tw' ELSE '' END)
             || '&q=spark#frag' AS url
      FROM documents WHERE doc_id < 300
    ),
    p AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS pth,
             regexp_extract(url, '\?([^#]*)', 1) AS q
      FROM r
    ),
    c AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'https' AND auth LIKE '%:443'
                    THEN substring(auth, 1, length(auth) - 4)
                  WHEN scheme = 'http' AND auth LIKE '%:80'
                    THEN substring(auth, 1, length(auth) - 3)
                  ELSE auth END AS auth2,
             regexp_replace(pth, '/index\.html$', '/') AS pth2,
             array_to_string(list_filter(string_split(q, '&'),
               x -> x <> '' AND NOT starts_with(x, 'utm_')
                    AND NOT starts_with(x, 'ref=')
                    AND NOT starts_with(x, 'fbclid=')
                    AND NOT starts_with(x, 'gclid=')),
               '&') AS cq,
             regexp_extract(regexp_replace(auth, ':[0-9]+$', ''),
                            '([^.]+\.[^.]+)$', 1) AS dom
      FROM p
    )
    SELECT doc_id,
           scheme || '://' || auth2 || pth2 ||
           CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canon_url,
           dom AS registered_domain
    FROM c ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_url_canonicalize)


def _d_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (operators/linkage.py):
    link the customer table against a deterministically-perturbed copy of
    itself (dropped characters, appended characters, reversed names,
    shifted balances), blocked on (nation, segment), scored with
    levenshtein + balance-band field rules under literal log-likelihood
    weights.  Returns the accepted matches — including the occasional
    cross-customer false positive the weight sum genuinely admits, which
    the oracle reproduces exactly."""
    from polars_view_spark.operators.linkage import linkage_score

    left, right, rules_fn = _linkage_frames(spark, sf_dir)
    scored = linkage_score(
        left, right, ["c_nationkey", "c_mktsegment"], rules_fn(), threshold=8.0
    )
    return (
        scored.filter("is_match")
        .select(
            "l_key",
            "r_key",
            "agree_name",
            "agree_bal",
            F.col("score").cast("long").alias("score"),
        )
        .orderBy("l_key", "r_key")
    )


#: The ONE linkage pair construction every linkage oracle builds on (the
#: Spark entries build the identical frames via _linkage_frames) — batch,
#: streaming, weight-estimation, and golden-record oracles all derive
#: from THIS text, so a perturbation/weight tweak cannot silently desync
#: the family.
_DUCK_LINKAGE_CTES = """
    left_t AS (
      SELECT c_custkey AS key, c_name AS name, c_nationkey, c_mktsegment,
             c_acctbal AS bal
      FROM customer WHERE c_custkey < 600
    ),
    right_t AS (
      SELECT c_custkey + 100000 AS key,
             CASE WHEN c_custkey % 4 = 0
                    THEN substring(c_name, 1, 5) || substring(c_name, 7)
                  WHEN c_custkey % 4 = 1 THEN c_name || 'x'
                  WHEN c_custkey % 4 = 2 THEN c_name
                  ELSE reverse(c_name) END AS name,
             c_nationkey, c_mktsegment,
             c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 0.5 ELSE 0.0 END AS bal
      FROM customer WHERE c_custkey < 600
    ),
    pairs AS (
      SELECT l.key AS l_key, r.key AS r_key, l.name AS l_name,
             r.name AS r_name,
             levenshtein(l.name, r.name) <= 1 AS agree_name,
             abs(l.bal - r.bal) < 1.0 AS agree_bal
      FROM left_t l JOIN right_t r USING (c_nationkey, c_mktsegment)
    )
"""

#: Shared by d_record_linkage and its streaming face — the sink union of
#: the streaming entry provably equals the one-shot batch linkage (see
#: streaming_linkage docstring), so ONE oracle text serves both.
_DUCK_LINKAGE_ORACLE = f"""
    WITH {_DUCK_LINKAGE_CTES}
    SELECT l_key, r_key, agree_name, agree_bal,
           CAST(CASE WHEN agree_name THEN 6.0 ELSE -2.0 END
              + CASE WHEN agree_bal THEN 4.0 ELSE -1.0 END AS BIGINT) AS score
    FROM pairs
    WHERE CASE WHEN agree_name THEN 6.0 ELSE -2.0 END
        + CASE WHEN agree_bal THEN 4.0 ELSE -1.0 END >= 8.0
    ORDER BY l_key, r_key
    """

register(
    "d_record_linkage",
    oracle=_DUCK_LINKAGE_ORACLE,
    tables=("customer",),
)(_d_record_linkage)


def _x_observe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-extra-scan write audit: materialize the documents table to a
    scratch dataset while ``DataFrame.observe`` piggybacks the input
    metrics (row/null/char aggregates) on the SAME write job — no second
    scan, no separate aggregate job (``audited_write`` docstring has the
    scale argument).  The oracle recomputes the metrics as a plain
    aggregate; matching it proves the observed partials merged to the
    exact global answer."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.expectations import audited_write

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    out_path = os.path.join(_scratch_dir("observe_audit", sf_dir), "copy")
    metrics = {
        "n_rows": F.count(F.lit(1)),
        "n_null_lang": F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)),
        "sum_chars": F.sum("n_chars"),
        "min_chars": F.min("n_chars"),
        "max_chars": F.max("n_chars"),
        "n_es": F.sum(F.when(F.col("lang") == "es", 1).otherwise(0)),
    }
    return audited_write(d, metrics, out_path)


register(
    "x_observe_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_lang,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es
    FROM documents
    """,
    tables=("documents",),
)(_x_observe_audit)


def _e_streaming_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of Fellegi–Sunter linkage: the perturbed feed from
    ``d_record_linkage`` arrives as a stream and every micro-batch is
    scored against the static master (persisted; the small BATCH is the
    broadcast side, so the master is never shuffled); the
    sink union equals the one-shot batch linkage, so the SAME oracle SQL
    verifies it."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_linkage,
    )

    master, feed, rules_fn = _linkage_frames(spark, sf_dir)
    scratch = _scratch_dir("stream_linkage", sf_dir)
    landing = os.path.join(scratch, "landing")
    feed.coalesce(1).write.mode("overwrite").parquet(landing)
    sink = os.path.join(scratch, "matches")

    reader = spark.readStream.schema(feed.schema)
    src = _single_file_to_glob(reader, landing)
    stream = reader.parquet(src)
    q = streaming_linkage(
        stream, master, sink, ["c_nationkey", "c_mktsegment"], rules_fn, 8.0
    )
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "c_nationkey int, c_mktsegment string, l_key long, l_name string,"
        " l_bal double, r_key long, r_name string, r_bal double,"
        " agree_name boolean, agree_bal boolean, score double,"
        " is_match boolean, batch_id long",
    )
    return (
        out.select(
            "l_key",
            "r_key",
            "agree_name",
            "agree_bal",
            F.col("score").cast("long").alias("score"),
        )
        .orderBy("l_key", "r_key")
    )


register(
    "e_streaming_linkage",
    oracle=_DUCK_LINKAGE_ORACLE,
    tables=("customer",),
)(_e_streaming_linkage)


def _d_nfc_aware_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof for ``nfc_normalize``: plant per-doc variant
    pairs that differ ONLY in Unicode composition (composed vs decomposed
    é) — plus a control group whose variants genuinely differ — and
    exact-dedup on both the raw md5 key and the NFC md5 key.  Raw hashing
    sees every composition variant as distinct (2 keys); NFC hashing
    collapses them (1 key) while correctly keeping the control group's
    true variants apart.  ``dup_caught`` is the per-doc count of
    duplicates only the normalized key finds — exactly the leak class the
    nfc_normalize docstring warns about."""
    from polars_view_spark.operators.textstats import nfc_normalize

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].filter(F.col("doc_id") < 200)
    composed = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 16), F.lit("café")).alias("raw"),
    )
    variant = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 16),
            # control group (doc_id % 4 == 0): genuinely different text;
            # everyone else: the decomposed spelling of the same text
            F.when(F.col("doc_id") % 4 == 0, F.lit("cafX")).otherwise(
                F.lit("café")
            ),
        ).alias("raw"),
    )
    both = composed.unionByName(variant)
    keyed = nfc_normalize(both, "raw").select(
        "doc_id", F.md5("raw").alias("raw_key"), F.md5("raw_nfc").alias("nfc_key")
    )
    return (
        keyed.groupBy("doc_id")
        .agg(
            F.countDistinct("raw_key").alias("n_raw_keys"),
            F.countDistinct("nfc_key").alias("n_nfc_keys"),
        )
        .withColumn(
            "dup_caught", (F.col("n_raw_keys") - F.col("n_nfc_keys"))
        )
        .orderBy("doc_id")
    )


register(
    "d_nfc_aware_dedup",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    both_v AS (
      SELECT doc_id, substring(text, 1, 16) || 'caf' || chr(233) AS raw FROM d
      UNION ALL
      SELECT doc_id, substring(text, 1, 16) ||
             CASE WHEN doc_id % 4 = 0 THEN 'cafX'
                  ELSE 'cafe' || chr(769) END AS raw
      FROM d
    )
    SELECT doc_id,
           CAST(count(DISTINCT md5(raw)) AS BIGINT) AS n_raw_keys,
           CAST(count(DISTINCT md5(nfc_normalize(raw))) AS BIGINT) AS n_nfc_keys,
           CAST(count(DISTINCT md5(raw))
              - count(DISTINCT md5(nfc_normalize(raw))) AS BIGINT) AS dup_caught
    FROM both_v GROUP BY doc_id ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_nfc_aware_dedup)


def _q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL user-defined functions (CREATE OR REPLACE TEMPORARY
    FUNCTION ... RETURNS ... RETURN <expr>): reusable scalar logic that
    stays INSIDE Catalyst — the body is inlined into the plan at analysis
    time, so unlike Python UDFs a SQL UDF costs nothing at 100 TB (same
    codegen as writing the expression inline).  The oracle states the
    inlined expressions, which IS the semantics being verified."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pvs_net_cents(p DOUBLE, d DOUBLE)"
        " RETURNS BIGINT RETURN CAST(round(p * (1.0 - d) * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pvs_band(q BIGINT) RETURNS STRING"
        " RETURN CASE WHEN q < 10 THEN 'small' WHEN q < 30 THEN 'mid'"
        " ELSE 'large' END"
    )
    load_tables(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT pvs_band(CAST(l_quantity AS BIGINT)) AS band,
               COUNT(*) AS n,
               SUM(pvs_net_cents(l_extendedprice, l_discount)) AS net_cents
        FROM lineitem
        WHERE l_orderkey < 2000
        GROUP BY band
        ORDER BY band
        """
    )


register(
    "q_sql_udf",
    oracle="""
    SELECT CASE WHEN CAST(l_quantity AS BIGINT) < 10 THEN 'small'
                WHEN CAST(l_quantity AS BIGINT) < 30 THEN 'mid'
                ELSE 'large' END AS band,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_cents
    FROM lineitem
    WHERE l_orderkey < 2000
    GROUP BY band
    ORDER BY band
    """,
    tables=("lineitem",),
)(_q_sql_udf)


def _q_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collation: group case-noisy keys under
    ``COLLATE UTF8_LCASE`` — collation-aware equality INSIDE the engine
    (hash/sort operators compare under the collation, no lower() rewrite
    of the data).  Case noise is synthesized from the lang column
    (upper / unchanged / first-letter-upper by doc_id).  The group
    representative is min() over the ORIGINAL strings (binary order) so
    the output is deterministic; the oracle states the lower()-key
    equivalent."""
    load_tables(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH v AS (
          SELECT CASE WHEN doc_id % 3 = 0 THEN upper(lang)
                      WHEN doc_id % 3 = 1 THEN lang
                      ELSE upper(substring(lang, 1, 1)) || substring(lang, 2)
                 END AS g
          FROM documents
        )
        SELECT min(g) AS representative, count(*) AS n
        FROM v
        GROUP BY g COLLATE UTF8_LCASE
        ORDER BY representative
        """
    )


register(
    "q_collated_group",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN upper(lang)
                  WHEN doc_id % 3 = 1 THEN lang
                  ELSE upper(substring(lang, 1, 1)) || substring(lang, 2)
             END AS g
      FROM documents
    )
    SELECT min(g) AS representative, CAST(count(*) AS BIGINT) AS n
    FROM v
    GROUP BY lower(g)
    ORDER BY representative
    """,
    tables=("documents",),
)(_q_collated_group)


def _x_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced contiguous shard assignment (packing.py:
    balanced_shards — the rowindex partition-offset technique generalized
    to weighted prefix sums; no single-partition global window).  The
    entry reports the per-shard doc/token totals; the oracle recomputes
    the assignment with a window prefix sum, so the hash pins both the
    balance AND the exact doc→shard mapping rule."""
    from polars_view_spark.operators.packing import balanced_shards

    t = load_tables(spark, sf_dir, "documents")
    assigned = balanced_shards(t["documents"], n_shards=8)
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard")
    )


register(
    "x_balanced_shards",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text, ' '),
                  '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (SELECT (sum(n_tokens) + 7) // 8 AS target FROM t),
    p AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT CAST(least(7, prefix // target) AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM p, tot GROUP BY shard ORDER BY shard
    """,
    tables=("documents",),
)(_x_balanced_shards)


def _linkage_frames(spark: SparkSession, sf_dir: str):
    """The ONE left/right/rules construction behind the whole linkage
    family — d_record_linkage, e_streaming_linkage, d_linkage_weights,
    d_golden_records (mirrors _DUCK_LINKAGE_CTES).  Returns
    ``(left, right, rules_fn)`` with ``rules_fn`` a zero-arg factory:
    Columns are plan fragments, and building them fresh per use keeps
    the factory picklable for streaming_linkage's foreachBatch."""
    t = load_tables(spark, sf_dir, "customer")
    c = t["customer"].filter(F.col("c_custkey") < 600)
    left = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        "c_nationkey",
        "c_mktsegment",
        F.col("c_acctbal").alias("bal"),
    )
    right = c.select(
        (F.col("c_custkey") + 100000).alias("key"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(F.substring("c_name", 1, 5), F.substring("c_name", 7, 100)),
        )
        .when(F.col("c_custkey") % 4 == 1, F.concat("c_name", F.lit("x")))
        .when(F.col("c_custkey") % 4 == 2, F.col("c_name"))
        .otherwise(F.reverse(F.col("c_name")))
        .alias("name"),
        "c_nationkey",
        "c_mktsegment",
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 5 == 0, 0.5).otherwise(0.0)
        ).alias("bal"),
    )

    def rules_fn():
        from polars_view_spark.operators.linkage import FieldRule

        return [
            FieldRule(
                "name",
                F.levenshtein(F.col("l_name"), F.col("r_name")) <= 1,
                6.0,
                -2.0,
            ),
            FieldRule(
                "bal", F.abs(F.col("l_bal") - F.col("r_bal")) < 1.0, 4.0, -1.0
            ),
        ]

    return left, right, rules_fn


def _d_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised Fellegi–Sunter m/u estimation (linkage.py:
    estimate_linkage_weights): label the d_record_linkage candidate pairs
    with provenance truth (r_key − 100000 == l_key) and estimate
    P(agree | match) / P(agree | non-match) per field as exact integer
    milli-probabilities — one scan, one aggregate, any rule count."""
    from polars_view_spark.operators.linkage import (
        estimate_linkage_weights,
        linkage_score,
    )

    left, right, rules_fn = _linkage_frames(spark, sf_dir)
    scored = linkage_score(
        left, right, ["c_nationkey", "c_mktsegment"], rules_fn(), 8.0
    ).withColumn("truth", F.col("r_key") - 100000 == F.col("l_key"))
    return estimate_linkage_weights(scored, "truth", ["name", "bal"]).orderBy(
        "field"
    )


register(
    "d_linkage_weights",
    oracle=f"""
    WITH {_DUCK_LINKAGE_CTES},
    lab AS (
      SELECT *, (r_key - 100000 = l_key) AS truth FROM pairs
    ),
    ag AS (
      SELECT
        CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS BIGINT)
          AS n_nonmatch,
        CAST(sum(CASE WHEN truth AND agree_name THEN 1 ELSE 0 END) AS BIGINT)
          AS am_name,
        CAST(sum(CASE WHEN NOT truth AND agree_name THEN 1 ELSE 0 END)
          AS BIGINT) AS an_name,
        CAST(sum(CASE WHEN truth AND agree_bal THEN 1 ELSE 0 END) AS BIGINT)
          AS am_bal,
        CAST(sum(CASE WHEN NOT truth AND agree_bal THEN 1 ELSE 0 END)
          AS BIGINT) AS an_bal
      FROM lab
    )
    SELECT 'bal' AS field, n_match, n_nonmatch, am_bal AS agree_match,
           an_bal AS agree_nonmatch,
           1000 * am_bal // n_match AS m_milli,
           1000 * an_bal // n_nonmatch AS u_milli
    FROM ag
    UNION ALL
    SELECT 'name', n_match, n_nonmatch, am_name, an_name,
           1000 * am_name // n_match, 1000 * an_name // n_nonmatch
    FROM ag
    ORDER BY field
    """,
    tables=("customer",),
)(_d_linkage_weights)


def _d_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (linkage.py:golden_records): accepted linkage matches
    → connected components (the SAME checkpointed min-label machinery as
    near-dup clustering) → one golden record per entity with
    deterministic field survivorship (longest name with struct-max value
    tiebreak, max balance).  Unmatched records survive as singleton
    entities, so the output covers the whole record set."""
    from polars_view_spark.operators.linkage import golden_records, linkage_score

    left, right, rules_fn = _linkage_frames(spark, sf_dir)
    matches = (
        linkage_score(left, right, ["c_nationkey", "c_mktsegment"], rules_fn(), 8.0)
        .filter("is_match")
        .select("l_key", "r_key")
    )
    records = left.select("key", "name", "bal").unionByName(
        right.select("key", "name", "bal")
    )
    return golden_records(records, matches)


register(
    "d_golden_records",
    oracle=f"""
    WITH RECURSIVE {_DUCK_LINKAGE_CTES},
    matches AS (
      SELECT l_key, r_key FROM pairs
      WHERE CASE WHEN agree_name THEN 6.0 ELSE -2.0 END
          + CASE WHEN agree_bal THEN 4.0 ELSE -1.0 END >= 8.0
    ),
    records AS (
      SELECT key, name, bal FROM left_t
      UNION ALL SELECT key, name, bal FROM right_t
    ),
    edges AS (
      SELECT l_key AS src, r_key AS dst FROM matches
      UNION ALL SELECT r_key, l_key FROM matches
    ),
    reach(v, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
    ),
    labels AS (SELECT v, MIN(r) AS label FROM reach GROUP BY v)
    SELECT COALESCE(l.label, rec.key) AS entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           (max({{'l': length(rec.name), 'n': rec.name}})).n AS canonical_name,
           max(rec.bal) AS max_bal
    FROM records rec LEFT JOIN labels l ON l.v = rec.key
    GROUP BY entity_id ORDER BY entity_id
    """,
    tables=("customer",),
)(_d_golden_records)


# --------------------------------------------------------------------------
# round 8: quantized ANN search, C4 line dedup, stateful running counts
# --------------------------------------------------------------------------


def _s_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k scored directly on int8-quantized codes
    (operators/similarity.py:quantized_topk) — the compute face of
    x_embedding_quantize: cosine is scale-invariant, so the per-vector
    quantization scale cancels and the codes rank without dequantization.
    At 100 TB this shrinks the broadcast/shuffle payload 4x vs float32 and
    swaps the distance kernel to integer SIMD; recall vs the float
    baseline is pinned by pytest (test_quantized_topk_recall_vs_float).
    Same plan shape as brute force: queries broadcast, zero corpus
    shuffles.  The oracle re-derives the identical codes (the
    x_embedding_quantize quantizer, epsilon-pinned round) and ranks on the
    same 6-decimal-rounded integer-code cosine."""
    from polars_view_spark.operators.similarity import quantized_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    out = quantized_topk(e, e.filter(F.col("vec_id") < ANN_N_QUERIES), k=ANN_K)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


register(
    "s_ann_quantized_topk",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(round({_QUANT_DUCK_X} *
                 (CASE WHEN {_QUANT_DUCK_MAXABS} = 0.0 THEN 1.0
                       ELSE 127.0 / {_QUANT_DUCK_MAXABS} END) + 1e-9)
                 AS INTEGER)) AS q
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS query_id, q AS qv FROM coded
           WHERE vec_id < {ANN_N_QUERIES}),
    cs AS (SELECT vec_id AS neighbor_id, q AS cv FROM coded),
    s AS (SELECT query_id, neighbor_id,
                 round({duck_cosine_sql("qv", "cv")}, 6) AS score
          FROM qs, cs WHERE query_id != neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM s)
    SELECT query_id, neighbor_id, score, rank FROM r
    WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_quantized)


def _d_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style within-document line deduplication
    (operators/textstats.py:dedup_lines, Raffel et al. arXiv:1910.10683:
    keep one occurrence of each line per page).  Multi-line text is
    synthesized deterministically from the documents table — three fixed
    40-char windows with the first line REPEATED, so every doc exercises
    the drop-and-preserve-order path — then deduped with the pure
    array-fold projection (zero shuffles, O(lines^2) per DOCUMENT, never
    per corpus).  The oracle re-derives first-occurrence-per-line with
    unnest + min(ordinal) + ordered string_agg."""
    from polars_view_spark.operators.textstats import dedup_lines

    t = load_tables(spark, sf_dir, "documents")
    raw = (
        t["documents"]
        .filter(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.expr("substring(text, 1, 40)"),
                F.expr("substring(text, 41, 40)"),
                F.expr("substring(text, 1, 40)"),
                F.expr("substring(text, 81, 40)"),
            ).alias("text"),
        )
    )
    out = dedup_lines(raw)
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("dedup_md5"),
        F.col("n_dup_lines"),
    ).orderBy("doc_id")


register(
    "d_dedup_lines",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             substring(text, 1, 40) || chr(10) || substring(text, 41, 40)
               || chr(10) || substring(text, 1, 40) || chr(10)
               || substring(text, 81, 40) AS text
      FROM documents WHERE doc_id < 500
    ),
    lines AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS ord
      FROM raw
    ),
    firsts AS (
      SELECT doc_id, line, min(ord) AS ord
      FROM lines GROUP BY doc_id, line
    )
    SELECT l.doc_id,
           md5((SELECT string_agg(f.line, chr(10) ORDER BY f.ord)
                FROM firsts f WHERE f.doc_id = l.doc_id)) AS dedup_md5,
           CAST(count(*) - (SELECT count(*) FROM firsts f
                            WHERE f.doc_id = l.doc_id) AS BIGINT)
             AS n_dup_lines
    FROM lines l GROUP BY l.doc_id ORDER BY l.doc_id
    """,
    tables=("documents",),
)(_d_dedup_lines)


def _e_streaming_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState flagship driver-gated: per-user running
    event count + last-seen (streaming/events.py:streaming_running_counts,
    GroupState with explicit timeout, Arrow-batched pandas per
    micro-batch), drained with ``availableNow`` into an update-mode memory
    sink.  Update mode emits one row per (user, batch-that-changed-it);
    counts are MONOTONIC, so max() per user recovers the final state —
    multi-batch-robust without assuming a batch count.  Checkpoint
    recovery for this exact operator (kill + restart, state restored from
    the state store) is pinned by
    test_stateful_recovery_restores_state_after_restart."""
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_running_counts,
    )

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_to_memory(
        streaming_running_counts(stream),
        "e_streaming_running_counts_sink",
        output_mode="update",
        state_partitions=8,
    )
    return (
        spark.table("e_streaming_running_counts_sink")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.date_format(F.max("last_seen"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
        )
        .orderBy("user_id")
    )


register(
    "e_streaming_running_counts",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tables=("events",),
)(_e_streaming_running_counts)


def _q_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``IDENTIFIER()`` clause: table AND column names bound from
    parameter markers — the injection-safe dynamic-identifier surface
    (templated per-tenant/per-date queries pick their table at execution
    without string-splicing SQL).  The identifier resolves at parse time,
    so the plan is identical to the static query — Catalyst pushdown and
    pruning are unaffected; the oracle states the resolved static SQL."""
    load_tables(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT IDENTIFIER(:seg_col) AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(SUM(c_acctbal) + 1e-6, 2) AS sum_bal
        FROM IDENTIFIER(:tbl)
        WHERE c_acctbal > :floor
        GROUP BY IDENTIFIER(:seg_col)
        ORDER BY segment
        """,
        args={"tbl": "customer", "seg_col": "c_mktsegment", "floor": 0.0},
    )


register(
    "q_identifier_clause",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c_acctbal) + 1e-6, 2) AS sum_bal
    FROM customer
    WHERE c_acctbal > 0.0
    GROUP BY c_mktsegment ORDER BY segment
    """,
    tables=("customer",),
)(_q_identifier_clause)


def _d_url_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL-key exact dedup — the composition the URL
    canonicalizer exists FOR: raw crawl URLs (case noise, default ports,
    ``/index.html`` tails, tracking params, fragments — the same
    deterministic synthesis as x_url_canonicalize, here with doc_id%6
    collapsing six raw variants per logical page) group on ``canon_url``
    and keep the minimum doc_id per page.  Scale shape: canonicalization
    is pure codegen riding the scan; the dedup is ONE keyed shuffle on
    the canonical key — without canonicalization the same corpus
    over-counts 6x and every per-domain cap misfires."""
    from polars_view_spark.operators.textstats import url_canonicalize

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].filter(F.col("doc_id") < 600)
    page = (F.col("doc_id") % 6).cast("string")
    raw = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
                F.lit("https://")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit("WWW")).otherwise(
                F.lit("www")
            ),
            F.lit(".example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/page/"),
            page,
            F.when(F.col("doc_id") % 4 == 0, F.lit("/index.html")).otherwise(
                F.lit("/")
            ),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed")
            ).otherwise(F.lit("?id=1")),
            F.lit("#frag"),
        ).alias("url"),
    )
    canon = url_canonicalize(raw, "url")
    return (
        canon.groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
        .orderBy("canon_url")
    )


register(
    "d_url_exact_dedup",
    oracle=r"""
    WITH r AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 5 = 0 THEN 'WWW' ELSE 'www' END)
             || '.example.com'
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || '/page/' || CAST(doc_id % 6 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '/index.html' ELSE '/' END)
             || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed'
                      ELSE '?id=1' END)
             || '#frag' AS url
      FROM documents WHERE doc_id < 600
    ),
    p AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS auth,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS pth,
             regexp_extract(url, '\?([^#]*)', 1) AS q
      FROM r
    ),
    c AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'https' AND auth LIKE '%:443'
                    THEN substring(auth, 1, length(auth) - 4)
                  WHEN scheme = 'http' AND auth LIKE '%:80'
                    THEN substring(auth, 1, length(auth) - 3)
                  ELSE auth END AS auth2,
             regexp_replace(pth, '/index\.html$', '/') AS pth2,
             array_to_string(list_filter(string_split(q, '&'),
               x -> x <> '' AND NOT starts_with(x, 'utm_')
                    AND NOT starts_with(x, 'ref=')
                    AND NOT starts_with(x, 'fbclid=')
                    AND NOT starts_with(x, 'gclid=')),
               '&') AS cq
      FROM p
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' || auth2 || pth2 ||
             CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canon_url
      FROM c
    )
    SELECT canon_url,
           CAST(min(doc_id) AS BIGINT) AS keep_doc,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canon_url ORDER BY canon_url
    """,
    tables=("documents",),
)(_d_url_exact_dedup)


def _s_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k vs the exact baseline, self-measured in-engine: the
    IVF-flat retriever's top-k (s_ann_ivf_topk's exact configuration) is
    intersected per query with brute-force top-k, yielding integer
    ``n_overlap`` and ``recall_ppm = (n_overlap·10⁶) // k`` — the number
    every ANN deployment must monitor, produced as exact integers so both
    engines agree bit-for-bit.  A query the approximate retriever missed
    entirely still gets its zero row (left join from the exact side).

    Scale shape: both retrievals are the already-gated plans (queries
    broadcast / cell-probed); the evaluation itself is one equi-join of
    two O(queries·k) frames — corpus-independent, the same discipline as
    retrieval_eval.  At 100 TB you run this on a SAMPLE of queries
    against the production index to watch recall drift as the corpus
    grows (pair with e_streaming_score_drift for the monitoring face)."""
    from polars_view_spark.operators.similarity import (
        brute_force_topk,
        ivf_flat_topk,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < ANN_N_QUERIES)
    ivf = ivf_flat_topk(
        e, q, k=ANN_K, seed_mod=IVF_SEED_MOD, n_probe=IVF_N_PROBE,
        scale=IVF_SCALE, max_seeds=IVF_MAX_SEEDS,
    ).select("query_id", "neighbor_id")
    brute = brute_force_topk(e, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    overlap = (
        brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)) * F.lit(1_000_000)
                / F.lit(ANN_K)
            )
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


register(
    "s_ann_recall_eval",
    oracle=f"""
    WITH ivf AS (SELECT query_id, neighbor_id
                 FROM ({_IVF_TOPK_ORACLE}) t),
    brute AS (SELECT query_id, neighbor_id
              FROM ({_BRUTE_TOPK_ORACLE}) t),
    ov AS (
      SELECT b.query_id,
             CAST(count(i.neighbor_id) AS BIGINT) AS n_overlap
      FROM brute b LEFT JOIN ivf i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id
    )
    SELECT query_id, n_overlap,
           CAST((n_overlap * 1000000) // {ANN_K} AS BIGINT) AS recall_ppm
    FROM ov ORDER BY query_id
    """,
    tables=("embeddings",),
)(_s_ann_recall_eval)


#: Count-Min entry knobs: probe the CM_TOP most frequent tokens (exact
#: count descending, token ascending — deterministic) against the sketch.
CM_TOP = 15


def _x_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (operators/sketches.py:countmin_sketch,
    Cormode & Muthukrishnan 2005): 4×256 integer counters built with ONE
    map-side-combined aggregate, then the CM_TOP most frequent tokens are
    point-estimated against the sketch (broadcast join, min over hash
    rows).  Emits exact count, sketch estimate, and the self-asserting
    ``no_underestimate`` (CM estimates are always ≥ truth — a violated
    row means a broken counter, caught by the value hash).  The hash rows
    reuse the MinHash (a,b) constants over the hex64 token hash, so every
    counter is exact integer arithmetic the oracle reproduces
    bit-for-bit.  At 100 TB the sketch is the only way to ask "how often
    does X occur" without a full token shuffle per question — partials
    merge, the sketch broadcasts, and heavy-hitter candidates
    (x_heavy_hitters) pair with it for guaranteed-coverage counting."""
    from polars_view_spark.operators.sketches import (
        countmin_estimates,
        countmin_sketch,
    )
    from polars_view_spark.functions.texthash import tokens_expr

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    sketch = countmin_sketch(d)
    exact = (
        d.select(F.explode(tokens_expr("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("token"))
        .limit(CM_TOP)
    )
    est = countmin_estimates(sketch, exact)
    return est.select(
        "token",
        "n_exact",
        F.col("cm_est").cast("long").alias("cm_est"),
        (F.col("cm_est") >= F.col("n_exact")).alias("no_underestimate"),
    ).orderBy(F.desc("n_exact"), F.asc("token"))


def _duck_cm_cells(h: str) -> str:
    """DuckDB mirror of the CM bucket coordinates: a list of (j, bucket)
    structs from the same (a, b) constants."""
    from polars_view_spark.operators.sketches import CM_DEPTH, CM_WIDTH

    return (
        "["
        + ", ".join(
            f"{{'j': {j}, 'bucket': (({a} * {h} + {b}) % {MINHASH_PRIME}) % {CM_WIDTH}}}"
            for j, (a, b) in enumerate(MINHASH_COEFFS[:CM_DEPTH])
        )
        + "]"
    )


# shared by x_countmin_sketch and e_streaming_countmin (merge law: the
# streamed partial-sum sketch equals the one-shot sketch)
_CM_ORACLE = f"""
    WITH toks AS (
      SELECT unnest({duck_tokens_sql("text")}) AS token FROM documents
    ),
    hashed AS (
      SELECT token, ({duck_hex64_sql("token")} % {MINHASH_PRIME}) AS h
      FROM toks
    ),
    cells AS (
      SELECT unnest({_duck_cm_cells("h")}, recursive := true) FROM hashed
    ),
    sketch AS (
      SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    exact AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY token
      ORDER BY n_exact DESC, token LIMIT {CM_TOP}
    ),
    probe AS (
      SELECT e.token, e.n_exact,
             unnest({_duck_cm_cells(f"({duck_hex64_sql('e.token')} % {MINHASH_PRIME})")},
                    recursive := true)
      FROM exact e
    )
    SELECT p.token, p.n_exact,
           CAST(min(s.c) AS BIGINT) AS cm_est,
           min(s.c) >= p.n_exact AS no_underestimate
    FROM probe p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
    GROUP BY p.token, p.n_exact
    ORDER BY p.n_exact DESC, p.token
    """

register(
    "x_countmin_sketch",
    oracle=_CM_ORACLE,
    tables=("documents",),
)(_x_countmin_sketch)


def _e_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join driver-gated
    (streaming/events.py:streaming_click_outcomes): clicks pair with
    errors in the following 10 minutes, and clicks with NO such error
    emit NULL error columns once the watermark proves absence.  Outer
    results are inherently late by the watermark delay — they emit in
    the batch whose STARTING watermark passes the click's join horizon —
    so the finite drain appends two far-future sentinel batches (one to
    advance both sides' watermarks past the real data, one to flush the
    resulting evictions); sentinels carry user_id = -1 and are excluded
    from the result.  With that, the drained stream equals the batch
    LEFT JOIN, giving the outer join a full value-hash oracle."""
    import datetime
    import os
    import shutil

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.streaming.events import (
        read_event_stream,
        run_stream_to_memory,
        streaming_click_outcomes,
    )

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    scratch = _scratch_dir("outer_join", sf_dir)
    stage = os.path.join(scratch, "stage")
    stream_dir = os.path.join(scratch, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    max_ts = ev.agg(F.max("ts")).first()[0]

    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "f0"))
    for i in (1, 2):
        sent_ts = max_ts + datetime.timedelta(days=10 * i)
        rows = [
            (-(100 + 10 * i + k), sent_ts, -1, et, 0.0, "")
            for k, et in enumerate(("click", "error"))
        ]
        store.small_frame(spark, rows, ev.schema).write.mode("overwrite").parquet(
            os.path.join(stage, f"f{i}")
        )
    import glob as _glob
    import time as _time

    base = int(_time.time()) - 100
    for i in range(3):
        part = _glob.glob(os.path.join(stage, f"f{i}", "part-*.parquet"))[0]
        dst = os.path.join(stream_dir, f"{i:03d}.parquet")
        shutil.copy(part, dst)
        # file-source batch order follows modification time — pin it
        os.utime(dst, (base + i, base + i))

    stream = read_event_stream(spark, stream_dir)
    run_stream_to_memory(
        streaming_click_outcomes(stream),
        "e_streaming_outer_join_sink",
        output_mode="append",
        state_partitions=8,
    )
    return (
        spark.table("e_streaming_outer_join_sink")
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "click_id", "error_id")
    )


register(
    "e_streaming_outer_join",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           e.event_id AS error_id,
           CAST(floor(epoch(e.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON e.user_id = c.user_id
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
    ORDER BY c.user_id, click_id, error_id
    """,
    tables=("events",),
)(_e_streaming_outer_join)


_LPA_IT = """
  vote{n} AS MATERIALIZED (
    SELECT e.a AS v, r.label AS nl, SUM(e.w) AS s
    FROM und e JOIN it{p} r ON e.b = r.v
    GROUP BY 1, 2
  ),
  it{n} AS MATERIALIZED (
    SELECT p.v, coalesce(b.nl, p.label) AS label
    FROM it{p} p LEFT JOIN (
      SELECT v, nl FROM (
        SELECT v, nl,
               ROW_NUMBER() OVER (PARTITION BY v ORDER BY s DESC, nl) AS rn
        FROM vote{n}) t
      WHERE rn = 1) b ON p.v = b.v
  )"""


def _x_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the nation trade graph
    (operators/graph.py:label_propagation): 3 synchronous rounds,
    highest-incident-weight label wins, ties toward the smallest label —
    a fully deterministic trajectory, so the THIRD iterative algorithm in
    the catalog (after kmeans and pagerank) carries a full value-hash
    oracle that replays every round.  The crawl-pipeline reading:
    communities over a domain link graph group sites that cite each
    other — the grouping key for per-community caps and topic-balanced
    sampling where per-domain caps (x_domain_cap) are too fine.

    Graph construction: TPC-H trade is deliberately uniform (every nation
    trades with every nation at similar volume), which has no community
    structure to find — so the demo graph keeps INTRA-REGION trade edges
    (regions are the planted ground truth) plus a sparse deterministic
    set of cross-region noise edges (``(5u+v) % 11 = 0``), and the
    asserted recovery is that propagation re-discovers region-shaped
    communities through the noise (pinned ≥ 3 communities in pytest)."""
    from polars_view_spark.operators.graph import label_propagation

    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    nreg = t["nation"].select(
        F.col("n_nationkey").alias("nk"), F.col("n_regionkey").alias("rk")
    )
    pairs = (
        _trade_nation_pairs(t)
        .join(nreg.withColumnRenamed("nk", "u").withColumnRenamed("rk", "ru"), "u")
        .join(nreg.withColumnRenamed("nk", "v").withColumnRenamed("rk", "rv"), "v")
        .filter(
            (F.col("ru") == F.col("rv"))
            | ((F.col("u") * 5 + F.col("v")) % 11 == 0)
        )
    )
    edges = pairs.groupBy(F.col("u").alias("src"), F.col("v").alias("dst")).agg(
        F.count(F.lit(1)).alias("w")
    )
    labels = label_propagation(edges, weight_col="w", iterations=3)
    return (
        labels.join(t["nation"], labels.v == F.col("n_nationkey"))
        .select("n_name", F.col("label").cast("long").alias("community"))
        .orderBy("n_name")
    )


register(
    "x_label_propagation",
    oracle=("""
    WITH raw AS MATERIALIZED (
      SELECT d.u, d.v, COUNT(*) AS w
      FROM ({TRADE}) d
      JOIN nation nu ON d.u = nu.n_nationkey
      JOIN nation nv ON d.v = nv.n_nationkey
      WHERE d.u <> d.v
        AND (nu.n_regionkey = nv.n_regionkey OR (d.u * 5 + d.v) % 11 = 0)
      GROUP BY 1, 2
    ),
    und AS MATERIALIZED (
      SELECT a, b, SUM(w) AS w FROM (
        SELECT u AS a, v AS b, w FROM raw
        UNION ALL SELECT v AS a, u AS b, w FROM raw) t
      GROUP BY a, b
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS v FROM und),
    it0 AS MATERIALIZED (SELECT v, v AS label FROM nodes),"""
    + _LPA_IT.format(n=1, p=0) + ","
    + _LPA_IT.format(n=2, p=1) + ","
    + _LPA_IT.format(n=3, p=2)
    + """
    SELECT n.n_name, CAST(r.label AS BIGINT) AS community
    FROM it3 r JOIN nation n ON r.v = n.n_nationkey
    ORDER BY n_name
    """).replace("{TRADE}", _TRADE_EDGES_SQL),
    tables=("lineitem", "orders", "customer", "supplier", "nation"),
)(_x_label_propagation)


def _q_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``GROUP BY ALL`` + ``ORDER BY ALL`` resolution sugar: the
    engine infers the grouping set as every non-aggregate select item and
    the sort key as the full select list — the notebook-speed idiom that
    must resolve to the identical plan as the explicit form.  The oracle
    states the explicit GROUP BY/ORDER BY (DuckDB pioneered the ALL
    shorthand, but spelling it out keeps the oracle self-describing)."""
    load_tables(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o.o_totalprice) + 1e-6, 2) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY ALL
        ORDER BY ALL
        """
    )


register(
    "q_group_order_by_all",
    oracle="""
    SELECT c.c_mktsegment,
           o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o.o_totalprice) + 1e-6, 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderstatus
    ORDER BY c.c_mktsegment, o.o_orderstatus, n, total
    """,
    tables=("orders", "customer"),
)(_q_group_order_by_all)


def _e_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the Count-Min sketch
    (streaming/events.py:streaming_countmin): the documents feed drains
    through foreachBatch, each micro-batch writing its own partial
    counter set to a batch_id partition (dynamic overwrite — replayed
    batches land idempotently), and the queryable sketch is the cell-wise
    sum of partials.  By the Count-Min merge law that sum equals the
    one-shot batch sketch, so this entry probes the SAME top tokens and
    is held to the SAME value-hash oracle as x_countmin_sketch — a
    counter lost to a dropped batch or doubled by a non-idempotent replay
    breaks the hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.sketches import countmin_estimates
    from polars_view_spark.functions.texthash import tokens_expr
    from polars_view_spark.streaming.events import (
        read_countmin,
        read_document_stream,
        streaming_countmin,
    )

    sketch_dir = os.path.join(_scratch_dir("stream_cm", sf_dir), "sketch")
    stream = read_document_stream(spark, f"{sf_dir}/documents.parquet")
    streaming_countmin(stream, sketch_dir).awaitTermination()
    sketch = read_countmin(spark, sketch_dir)

    t = load_tables(spark, sf_dir, "documents")
    exact = (
        t["documents"]
        .select(F.explode(tokens_expr("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("token"))
        .limit(CM_TOP)
    )
    est = countmin_estimates(sketch, exact)
    return est.select(
        "token",
        "n_exact",
        F.col("cm_est").cast("long").alias("cm_est"),
        (F.col("cm_est") >= F.col("n_exact")).alias("no_underestimate"),
    ).orderBy(F.desc("n_exact"), F.asc("token"))


register(
    "e_streaming_countmin",
    oracle=_CM_ORACLE,
    tables=("documents",),
)(_e_streaming_countmin)


def _x_score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score — the
    calibration step before cross-source mixing: raw scores from
    different sources are not comparable (one crawl's '0.8' is another's
    noise floor), so each document gets its score's PERCENTILE WITHIN ITS
    SOURCE, and mixture/threshold logic (x_mixture_sample,
    x_quality_buckets) operates on those.  Kept exact-integer:
    ``pctl_ppm = (rank−1)·10⁶ // (n−1)`` from a dense (score, doc_id)
    rank — no percent_rank float division, so the oracle matches
    bit-for-bit; single-document sources emit NULL (their percentile is
    undefined, and a silent 0 would pin every such doc to the reject
    bucket).

    Scale shape: ONE shuffle on source for the rank window + the
    per-source count rides the same partitioning; everything else is
    projection.  The demo score is n_chars (any projection-computable
    score slots in — gopher weights, classifier margin, LM score)."""
    t = load_tables(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("score", "doc_id")
    wn = Window.partitionBy("source")
    d = (
        t["documents"]
        .select("doc_id", "source", F.col("n_chars").alias("score"))
        .withColumn("r", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("long"))
    )
    return d.select(
        "doc_id",
        "source",
        "score",
        F.when(
            F.col("n") > 1,
            ((F.col("r") - 1) * F.lit(1_000_000)) / (F.col("n") - 1),
        )
        .cast("long")
        .alias("pctl_ppm"),
    ).orderBy("doc_id")


register(
    "x_score_quantile_normalize",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars AS score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, score,
           CASE WHEN n > 1
                THEN CAST((r - 1) * 1000000 // (n - 1) AS BIGINT)
                ELSE NULL END AS pctl_ppm
    FROM ranked ORDER BY doc_id
    """,
    tables=("documents",),
)(_x_score_quantile_normalize)


def _t_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition retention end-to-end
    (operators/snapshot.py:retention_vacuum): orders land year-partitioned
    (write_dataset partition_by), the vacuum keeps the newest 4 years and
    recursively deletes the rest — driver-side directory operations only,
    no data file ever read — and the entry re-reads the SURVIVING dataset
    so the value hash proves both faces: dropped years really gone
    (n_rows_after = 0), kept years byte-complete (their counts survive the
    delete untouched).  The read-back count also exercises partition
    pruning over the post-vacuum layout."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.snapshot import retention_vacuum
    from polars_view_spark.sources.writers import write_dataset

    t = load_tables(spark, sf_dir, "orders")
    ds = os.path.join(_scratch_dir("retention", sf_dir), "orders_by_year")
    write_dataset(
        t["orders"].withColumn(
            "o_year", F.substring(F.col("o_orderdate").cast("string"), 1, 4)
        ),
        ds,
        partition_by=["o_year"],
    )
    audit = retention_vacuum(spark, ds, "o_year", keep=4)
    counts = (
        spark.read.parquet(ds)
        .groupBy(F.col("o_year").cast("string").alias("o_year"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        audit.join(counts, "o_year", "left")
        .select(
            "o_year",
            "kept",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_rows_after"),
        )
        .orderBy("o_year")
    )


register(
    "t_retention_vacuum",
    oracle="""
    WITH years AS (
      SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 4) AS o_year,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY o_year DESC) AS rn FROM years
    )
    SELECT o_year,
           rn <= 4 AS kept,
           CASE WHEN rn <= 4 THEN n ELSE 0 END AS n_rows_after
    FROM ranked ORDER BY o_year
    """,
    tables=("orders",),
)(_t_retention_vacuum)


def _x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level novelty vs a reference slice
    (operators/textstats.py:ngram_novelty): docs with ``doc_id % 5 = 0``
    play yesterday's corpus, the rest are scored by how many of their
    distinct 3-shingles the reference has never seen — exact integer
    ppm, one keyed join + one doc-keyed aggregate."""
    from polars_view_spark.operators.textstats import ngram_novelty

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    ref = d.filter(F.col("doc_id") % 5 == 0)
    cand = d.filter(F.col("doc_id") % 5 != 0)
    return ngram_novelty(cand, ref).orderBy("doc_id")


register(
    "x_ngram_novelty",
    oracle=f"""
    WITH ref AS (
      SELECT DISTINCT unnest({duck_shingles_sql("text")}) AS sh
      FROM documents WHERE doc_id % 5 = 0
    ),
    cand AS (
      SELECT doc_id, unnest({duck_shingles_sql("text")}) AS sh
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE r.sh IS NULL) AS BIGINT) AS n_novel,
           CAST(count(*) FILTER (WHERE r.sh IS NULL) * 1000000
                // count(*) AS BIGINT) AS novelty_ppm
    FROM cand c LEFT JOIN ref r ON c.sh = r.sh
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    tables=("documents",),
)(_x_ngram_novelty)


# ---------------------------------------------------------------------------
# round 9 additions — registered BELOW the driver window (first stamps in
# round 10); each locally oracle-gated at sf0.001/0.01/0.1 on add.


def _x_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional Pareto frontier (operators/scale.py:
    pareto_frontier): the orders no other order beats on BOTH value and
    recency — the multi-objective selection shape (quality × freshness
    document picking) single-key top-k can't express.  The engine runs
    the bucketed prefix-scan decomposition (two keyed shuffles, no O(n²)
    join, no global-order window over the data); the oracle is the
    classic one-pass sorted sweep, and
    tests/test_scale.py pins BOTH against the NOT EXISTS dominance
    spec at sf0.001."""
    from polars_view_spark.operators.scale import pareto_frontier

    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"].select(
        "o_totalprice", F.col("o_orderdate").cast("date").alias("odate")
    )
    return (
        pareto_frontier(o, "o_totalprice", "odate")
        .select(
            F.col("d1").alias("price"),
            F.col("d2").alias("odate"),
            F.col("n_rows").alias("n_orders"),
        )
        .orderBy(F.desc("price"))
    )


register(
    "x_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT o_totalprice AS price, CAST(o_orderdate AS DATE) AS odate,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    ),
    swept AS (
      SELECT price, odate, n_orders,
             MAX(odate) OVER (ORDER BY price DESC, odate DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS rm
      FROM pts
    )
    SELECT price, odate, n_orders FROM swept
    WHERE rm IS NULL OR odate > rm
    ORDER BY price DESC
    """,
    tables=("orders",),
)(_x_pareto_frontier)


def _x_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent-pair mining (operators/mining.py:frequent_pairs):
    parts co-purchased in >= 2 distinct orders — items support-pruned
    BEFORE pair generation, pairs via one basket-keyed self-equi-join
    (per-basket fan-out bounded by basket size), counts map-side
    combined.  Top-20 by (count desc, pair) keeps the frame bounded at
    every SF."""
    from polars_view_spark.operators.mining import frequent_pairs

    t = load_tables(spark, sf_dir, "lineitem")
    return (
        frequent_pairs(t["lineitem"], "l_orderkey", "l_partkey", min_support=2)
        .orderBy(F.desc("n_baskets"), "item_a", "item_b")
        .limit(20)
    )


register(
    "x_itemset_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    freq AS (
      SELECT i FROM items GROUP BY i HAVING count(*) >= 2
    ),
    fi AS (
      SELECT b, i FROM items WHERE i IN (SELECT i FROM freq)
    )
    SELECT a.i AS item_a, b.i AS item_b,
           CAST(count(*) AS BIGINT) AS n_baskets
    FROM fi a JOIN fi b ON a.b = b.b AND a.i < b.i
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY n_baskets DESC, item_a, item_b LIMIT 20
    """,
    tables=("lineitem",),
)(_x_itemset_pairs)


def _x_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp each event's value to its event
    type's exact [p05, p95] band — the outlier MITIGATION twin of
    x_outlier_filter's row-dropping (winsorizing keeps the row, caps the
    leverage; the standard pre-step before means/regressions on
    heavy-tailed telemetry).  Scale shape: one keyed aggregate computes
    the per-type bounds (a |types|-row frame, broadcast back), the clamp
    is pure codegen riding the scan, and the report is a second map-side
    combined aggregate — no sort, no window over the data.  Exact
    percentile interpolation matches DuckDB's quantile_cont bit-for-bit
    (the q_percentiles precedent); the winsorized sum carries the
    conventional ROUND(+1e-6) accumulation-order guard."""
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("lo"),
        F.expr("percentile(value, 0.95D)").alias("hi"),
    )
    w = ev.join(F.broadcast(bounds), "event_type")
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") < F.col("lo")).cast("long"))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long"))
            .cast("long")
            .alias("n_clamped_high"),
            F.round(
                F.sum(F.expr("LEAST(GREATEST(value, lo), hi)")) + F.lit(1e-6), 2
            ).alias("winsorized_sum"),
        )
        .orderBy("event_type")
    )


register(
    "x_winsorize",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE e.value < b.lo) AS BIGINT)
             AS n_clamped_low,
           CAST(count(*) FILTER (WHERE e.value > b.hi) AS BIGINT)
             AS n_clamped_high,
           ROUND(SUM(LEAST(GREATEST(e.value, b.lo), b.hi)) + 1e-6, 2)
             AS winsorized_sum
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type ORDER BY event_type
    """,
    tables=("events",),
)(_x_winsorize)


def _x_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (operators/textstats.py:html_text_sql)
    over deterministically-synthesized markup (synth_html_sql — the
    url_canonicalize discipline: the corpus has no HTML, so the entry
    manufactures head/script/style blocks, nested inline tags and
    entities from the row's own values).  The extraction — drop
    script/style WITH contents, strip tags, decode entities, collapse
    whitespace — is one codegen scalar riding the scan: the HTML→text
    front door of a crawl pipeline runs at scan throughput with zero
    shuffles.  The value hash pins the FULL extracted string (md5) plus
    the markup-ratio ppm, so a one-character divergence between Spark's
    Java-regex path and DuckDB's RE2 path (replace-all flags, literal
    escaping — the two pinned dialect traps) breaks the entry."""
    from polars_view_spark.operators.textstats import (
        html_text_sql,
        synth_html_sql,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].withColumn("html", F.expr(synth_html_sql()))
    d = d.withColumn("extracted", F.expr(html_text_sql("html")))
    return d.select(
        "doc_id",
        F.md5("extracted").alias("md5_extracted"),
        F.length("extracted").cast("long").alias("n_chars_extracted"),
        # exact integer arithmetic (no double division): lengths are
        # non-negative so truncating DIV == floor == DuckDB's //
        F.expr(
            "CAST((CAST(length(html) AS BIGINT) - length(extracted)) "
            "* 1000000L DIV length(html) AS BIGINT)"
        ).alias("markup_ratio_ppm"),
    ).orderBy("doc_id")


def _x_html_extract_oracle() -> str:
    from polars_view_spark.operators.textstats import (
        html_text_sql,
        synth_html_sql,
    )

    h = synth_html_sql()
    e = html_text_sql("h", "duck")
    return f"""
    WITH hh AS (SELECT doc_id, {h} AS h FROM documents),
    ex AS (SELECT doc_id, h, {e} AS extracted FROM hh)
    SELECT doc_id,
           md5(extracted) AS md5_extracted,
           CAST(length(extracted) AS BIGINT) AS n_chars_extracted,
           CAST((length(h) - length(extracted)) * 1000000
                // length(h) AS BIGINT) AS markup_ratio_ppm
    FROM ex ORDER BY doc_id
    """


register(
    "x_html_extract",
    oracle=_x_html_extract_oracle(),
    tables=("documents",),
)(_x_html_extract)


def _x_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom membership sketch (operators/sketches.py:
    bloom_build/bloom_probe): the 'have we ever ingested this
    fingerprint' gate — build a 4096-bit filter over the reference
    slice's text fingerprints (docs with doc_id % 5 = 0), probe EVERY
    document, and report the (is_ref, maybe_member) confusion matrix.
    No false negative is possible by construction (a member's bits are
    all set — the matrix's (true, false) cell must be absent, which the
    value hash enforces); false positives are bounded and deterministic.
    Completes the mergeable-sketch family: HLL (distinct), KLL
    (quantiles), Theta (set algebra), Count-Min (frequency), Bloom
    (membership).  Scale shape: build is explode → ONE map-side-combined
    bit_or over <=128 word groups; the probe joins a <=128-row broadcast —
    both ends O(1) state however large the corpus."""
    from polars_view_spark.operators.sketches import bloom_build, bloom_probe

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        F.md5("text").alias("fp"),
        (F.col("doc_id") % 5 == 0).alias("is_ref"),
    )
    sketch = bloom_build(d.filter("is_ref"), "fp")
    probed = bloom_probe(sketch, d, "fp")
    return (
        probed.groupBy("is_ref", "maybe_member")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("is_ref", "maybe_member")
    )


def _x_bloom_membership_oracle() -> str:
    from polars_view_spark.operators.sketches import BF_DEPTH, _bloom_cells_sql

    cells = _bloom_cells_sql("fp", duck=True)
    return f"""
    WITH d AS (
      SELECT doc_id, md5(text) AS fp, doc_id % 5 = 0 AS is_ref FROM documents
    ),
    build AS (
      SELECT cell.word AS word, bit_or(cell.mask) AS bits
      FROM (SELECT unnest({cells}) AS cell FROM d WHERE is_ref)
      GROUP BY 1
    ),
    probe AS (
      SELECT doc_id, is_ref, unnest({cells}) AS cell FROM d
    ),
    hits AS (
      SELECT p.doc_id, p.is_ref,
             SUM(CASE WHEN b.bits IS NOT NULL
                       AND (b.bits & p.cell.mask) <> 0
                      THEN 1 ELSE 0 END) = {BF_DEPTH} AS maybe_member
      FROM probe p LEFT JOIN build b ON p.cell.word = b.word
      GROUP BY 1, 2
    )
    SELECT is_ref, maybe_member, CAST(count(*) AS BIGINT) AS n
    FROM hits GROUP BY 1, 2 ORDER BY 1, 2
    """


register(
    "x_bloom_membership",
    oracle=_x_bloom_membership_oracle(),
    tables=("documents",),
)(_x_bloom_membership)


def _t_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout migration end-to-end (operators/snapshot.py:
    evolve_partitioning): orders land month-partitioned (80 directories —
    the small-file regime at this volume), the migration coarsens the
    layout to year (7 directories) with ONE shuffle keyed on the new
    value, and the audit is read back from the DESTINATION — a row lost
    or doubled in flight breaks the hash.  ``n_dirs`` (the destination's
    actual o_year= directory count, stamped onto every row) pins that
    the rewrite produced exactly one directory per year, i.e. the layout
    really evolved rather than just the column being derived."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.snapshot import evolve_partitioning
    from polars_view_spark.sources.writers import write_dataset

    t = load_tables(spark, sf_dir, "orders")
    root = _scratch_dir("pevolve", sf_dir)
    src = os.path.join(root, "by_month")
    dst = os.path.join(root, "by_year")
    write_dataset(
        t["orders"].withColumn(
            "o_month", F.substring(F.col("o_orderdate").cast("string"), 1, 7)
        ),
        src,
        partition_by=["o_month"],
    )
    audit = evolve_partitioning(
        spark, src, dst, "o_year", "substring(o_month, 1, 4)", drop_old="o_month"
    )
    n_dirs = len([p for p in os.listdir(dst) if p.startswith("o_year=")])
    return (
        audit.withColumn("n_dirs", F.lit(n_dirs).cast("long"))
        .orderBy("o_year")
    )


register(
    "t_partition_evolution",
    oracle="""
    WITH y AS (
      SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 4) AS o_year,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    )
    SELECT o_year, n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM y) AS n_dirs
    FROM y ORDER BY o_year
    """,
    tables=("orders",),
)(_t_partition_evolution)


def _x_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of sources, how
    many distinct word 3-shingles they share — the corpus-governance view
    ('which feeds are re-crawling each other') that x_audience_overlap
    answers approximately with Theta sketches and this entry answers
    EXACTLY, by reusing operators/mining.py:frequent_pairs with shingles
    as the baskets and sources as the items: the per-basket fan-out is
    bounded by |sources| (20 here), the a-priori prune and the
    basket-keyed self-equi-join carry over unchanged.  At 100 TB the
    same composition runs on a shingle SAMPLE (stratified_sample rides
    in front at scan cost) — the matrix shape is |sources|², not corpus-
    sized, either way."""
    from polars_view_spark.functions.texthash import (
        shingles_from_tokens_sql,
        tokens_sql,
    )
    from polars_view_spark.operators.mining import frequent_pairs

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].withColumn("__toks", F.expr(tokens_sql("text")))
    sh = d.select(
        "source",
        F.explode(F.expr(shingles_from_tokens_sql("__toks"))).alias("sh"),
    )
    return (
        frequent_pairs(sh, "sh", "source", min_support=2)
        .select(
            F.col("item_a").alias("source_a"),
            F.col("item_b").alias("source_b"),
            F.col("n_baskets").alias("n_shared_shingles"),
        )
        .orderBy(F.desc("n_shared_shingles"), "source_a", "source_b")
        .limit(20)
    )


register(
    "x_source_overlap",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT sh AS b, source AS i FROM (
        SELECT source, unnest({duck_shingles_sql("text")}) AS sh
        FROM documents
      )
    ),
    freq AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
    fi AS (SELECT b, i FROM items WHERE i IN (SELECT i FROM freq))
    SELECT a.i AS source_a, b.i AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM fi a JOIN fi b ON a.b = b.b AND a.i < b.i
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY n_shared_shingles DESC, source_a, source_b LIMIT 20
    """,
    tables=("documents",),
)(_x_source_overlap)


def _s_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    (operators/similarity.py:pq_topk, Jégou et al. 2011): 16 subspaces ×
    64 deterministic seed codewords, every corpus vector compressed to
    16 small ints, queries broadcast with their 16×64 integer distance
    tables, approximate distance = 16 codegen array lookups per pair.
    Completes the ANN family (brute / LSH / IVF / IVF-rerank / int8 /
    PQ).  Exact-integer end to end — quantization, encoding argmins and
    ADC sums are all int64 — so the FULL approximation is value-hashed:
    a codeword assignment flipped by a tie or a lookup off by one breaks
    the hash."""
    from polars_view_spark.operators.similarity import pq_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    return pq_topk(e, e.filter(F.col("vec_id") < ANN_N_QUERIES)).orderBy(
        "query_id", "rank"
    )


# Shared PQ oracle core: quantize -> 16x64 seed codebooks -> per-subspace
# argmin codes -> ADC sums.  The raw-ADC, rerank, persisted-index and
# streaming-lookup entries all compose on top, so the approximation
# arithmetic is stated ONCE (parametrized on the query-set size the way
# _ivf_topk_oracle is).
def _pq_core(n_queries: int = ANN_N_QUERIES) -> str:
    return f"""
    WITH qz AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[],
             x -> CAST(round(x * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, qv AS sv
      FROM qz WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 64
    ),
    dists AS (
      SELECT a.vec_id, m.m, s.j,
             list_sum(list_transform(range(1, 5),
               i -> (a.qv[CAST(m.m*4 + i AS INT)] - s.sv[CAST(m.m*4 + i AS INT)])
                  * (a.qv[CAST(m.m*4 + i AS INT)] - s.sv[CAST(m.m*4 + i AS INT)]))) AS d
      FROM qz a CROSS JOIN range(0, 16) m(m) CROSS JOIN seeds s
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM dists) t
      WHERE rn = 1
    ),
    adc AS (
      SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(qd.d) AS BIGINT) AS approx_dist
      FROM codes c
      JOIN dists qd ON qd.m = c.m AND qd.j = c.code
                   AND qd.vec_id < {n_queries}
      WHERE c.vec_id != qd.vec_id
      GROUP BY 1, 2
    )"""


_PQ_CORE = _pq_core()

register(
    "s_ann_pq_topk",
    oracle=_PQ_CORE + f""",
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_dist, neighbor_id) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, approx_dist, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_pq_topk)


def _s_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (operators/similarity.py:pq_rerank_topk):
    ADC over 16-int codes shortlists 50 candidates per query, then ONLY
    those 50 full vectors are fetched (one id-keyed join) for the exact
    integer-quantized L2 rerank — measured top-5 recall 0.96 vs raw
    ADC's 0.45 on this corpus.  The production PQ shape: codes in memory,
    vectors on disk, the corpus never re-scanned for scoring.  Exact
    integers end to end, so both stages' arithmetic is value-hashed."""
    from polars_view_spark.operators.similarity import pq_rerank_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    return pq_rerank_topk(
        e, e.filter(F.col("vec_id") < ANN_N_QUERIES)
    ).orderBy("query_id", "rank")


register(
    "s_ann_pq_rerank",
    oracle=_PQ_CORE + f""",
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY approx_dist, neighbor_id) AS rn
        FROM adc) t
      WHERE rn <= 50
    ),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT)
               AS exact_dist
      FROM short s
      JOIN qz q ON q.vec_id = s.query_id
      JOIN qz c ON c.vec_id = s.neighbor_id
    ),
    r2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY exact_dist, neighbor_id) AS rank
      FROM ex
    )
    SELECT query_id, neighbor_id, exact_dist, CAST(rank AS BIGINT) AS rank
    FROM r2 WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_pq_rerank)


def _d_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup — the composition the
    membership sketch exists FOR: arrivals (the doc_id % 10 == 0 slice,
    plus planted exact copies of corpus docs re-keyed past 10⁶) probe the
    corpus fingerprint filter first, and ONLY the maybe-members reach the
    exact confirm join.  No false negatives means the result provably
    equals a plain exact anti-check (the oracle states the plain form for
    is_dup); false positives cost one extra probe row each, never a wrong
    answer.  At 100 TB the confirm join's arrival side shrinks by the
    Bloom pass rate while the ≤128-row filter replaces a corpus-sized
    build — the standard ingest-gate economics.  ``maybe_member`` is
    itself deterministic and hashed, so the FP set is pinned too."""
    from polars_view_spark.operators.sketches import bloom_build, bloom_probe

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    corpus = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    arrivals = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.md5("text").alias("fp"))
        .unionAll(
            # planted exact duplicates: corpus docs re-keyed as new ids
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "fp"
            )
        )
    )
    sketch = bloom_build(corpus, "fp")
    probed = bloom_probe(sketch, arrivals, "fp")
    # exact confirm ONLY over the Bloom survivors (the prefilter's point)
    seen = corpus.select("fp").distinct().withColumn("__hit", F.lit(True))
    confirmed = (
        probed.filter(F.col("maybe_member"))
        .join(seen, "fp", "left")
        .select("doc_id", (F.col("__hit").isNotNull()).alias("is_dup"))
    )
    return (
        probed.select("doc_id", "maybe_member")
        .join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "maybe_member",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


def _d_bloom_prefilter_oracle() -> str:
    from polars_view_spark.operators.sketches import BF_DEPTH, _bloom_cells_sql

    cells = _bloom_cells_sql("fp", duck=True)
    return f"""
    WITH corpus AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0
    ),
    arrivals AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, fp FROM corpus WHERE doc_id % 7 = 0
    ),
    build AS (
      SELECT cell.word AS word, bit_or(cell.mask) AS bits
      FROM (SELECT unnest({cells}) AS cell FROM corpus)
      GROUP BY 1
    ),
    probe AS (
      SELECT doc_id, fp, unnest({cells}) AS cell FROM arrivals
    ),
    maybe AS (
      SELECT p.doc_id, p.fp,
             SUM(CASE WHEN b.bits IS NOT NULL
                       AND (b.bits & p.cell.mask) <> 0
                      THEN 1 ELSE 0 END) = {BF_DEPTH} AS maybe_member
      FROM probe p LEFT JOIN build b ON p.cell.word = b.word
      GROUP BY 1, 2
    )
    SELECT m.doc_id, m.maybe_member,
           m.maybe_member AND m.fp IN (SELECT fp FROM corpus) AS is_dup
    FROM maybe m ORDER BY m.doc_id
    """


register(
    "d_bloom_prefilter_dedup",
    oracle=_d_bloom_prefilter_oracle(),
    tables=("documents",),
)(_d_bloom_prefilter_dedup)


def _e_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the Bloom membership filter
    (streaming/events.py:streaming_bloom): the reference slice's
    fingerprints drain through foreachBatch, each micro-batch writing its
    own partial filter to a batch_id partition (dynamic overwrite —
    replays land idempotently), and the queryable filter is the bit_or of
    partials.  By the OR-merge law that equals the one-shot filter, so
    this entry probes the SAME confusion matrix and is held to the SAME
    value-hash oracle as x_bloom_membership — a bit lost to a dropped
    batch or a doubled partial (harmless to OR, but a wrong batch
    boundary isn't) breaks the hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.sketches import bloom_probe
    from polars_view_spark.streaming.events import (
        read_bloom,
        read_document_stream,
        streaming_bloom,
    )

    filter_dir = os.path.join(_scratch_dir("stream_bloom", sf_dir), "filter")
    stream = read_document_stream(spark, f"{sf_dir}/documents.parquet")
    ref_keys = stream.filter(F.col("doc_id") % 5 == 0).select(
        F.md5("text").alias("fp")
    )
    streaming_bloom(ref_keys, filter_dir).awaitTermination()
    sketch = read_bloom(spark, filter_dir)

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        F.md5("text").alias("fp"),
        (F.col("doc_id") % 5 == 0).alias("is_ref"),
    )
    probed = bloom_probe(sketch, d, "fp")
    return (
        probed.groupBy("is_ref", "maybe_member")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("is_ref", "maybe_member")
    )


register(
    "e_streaming_bloom",
    oracle=_x_bloom_membership_oracle(),
    tables=("documents",),
)(_e_streaming_bloom)


def _x_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic
    (operators/scale.py:ks_statistic): the click-value distribution vs
    the view-value distribution, integer end-to-end (cross-multiplied
    ECDF difference — no float division until the final ppm).  The exact
    complement of the sketch-based drift gates (x_snapshot_drift /
    x_expectations_persisted_drift): run it when a threshold is about to
    move and the KLL error band is too coarse.  Cumulative counts ride
    the extracted bucketed-prefix-sum primitive
    (scale.py:bucketed_prefix_sums — the rowindex/pareto trick as a named
    operator), so there is NO single-partition global window; the oracle
    uses the plain window form."""
    from polars_view_spark.operators.scale import ks_statistic

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    return ks_statistic(
        ev.filter(F.col("event_type") == "click").select("value"),
        ev.filter(F.col("event_type") == "view").select("value"),
        "value",
    )


register(
    "x_ks_drift",
    oracle="""
    WITH pts AS (
      SELECT value AS v,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS cb
      FROM events WHERE event_type IN ('click', 'view') GROUP BY value
    ),
    cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS cum_a,
             SUM(cb) OVER (ORDER BY v) AS cum_b
      FROM pts
    ),
    tot AS (SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum),
    d AS (
      SELECT v, ABS(cum_a * (SELECT n_b FROM tot)
                  - cum_b * (SELECT n_a FROM tot)) AS diff
      FROM cum
    ),
    mx AS (SELECT MAX(diff) AS ks_num FROM d)
    SELECT CAST((SELECT n_a FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT n_b FROM tot) AS BIGINT) AS n_b,
           CAST(mx.ks_num AS BIGINT) AS ks_num,
           CAST(mx.ks_num * 1000000
                // ((SELECT n_a FROM tot) * (SELECT n_b FROM tot))
                AS BIGINT) AS ks_ppm,
           MIN(d.v) AS ks_at
    FROM d, mx WHERE d.diff = mx.ks_num
    GROUP BY mx.ks_num
    """,
    tables=("events",),
)(_x_ks_drift)


def _x_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping audio-style chunking (operators/multimodal.py:
    audio_chunks): width-100/hop-60 windows over the packed binary
    payloads — consecutive chunks share 40 bytes of context, the framing
    every ASR/STFT front end needs and non-overlapping frame_sample
    can't express.  Pure codegen (explode(sequence) + binary substring
    + md5): no Python, no shuffle — the fourth multimodal face, and the
    proof that chunk plumbing doesn't need the Arrow batch path decode
    does.  Payloads are ASCII here so the oracle mirrors the windows
    with substr + md5 over the source text."""
    from polars_view_spark.operators.multimodal import audio_chunks, pack_binary

    t = load_tables(spark, sf_dir, "documents")
    packed = pack_binary(t["documents"], "text", "source")
    return audio_chunks(packed, width=100, hop=60).orderBy(
        "doc_id", "chunk_idx"
    )


register(
    "x_multimodal_audio_chunks",
    oracle="""
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS chunk_idx,
           CAST(length(substr(text, CAST(u.i AS INT) * 60 + 1, 100)) AS BIGINT)
             AS n_chunk_bytes,
           md5(substr(text, CAST(u.i AS INT) * 60 + 1, 100)) AS chunk_md5
    FROM documents,
         UNNEST(generate_series(0, CAST((length(text) - 1) // 60 AS INT)))
           AS u(i)
    WHERE length(text) > 0
    ORDER BY doc_id, chunk_idx
    """,
    tables=("documents",),
)(_x_multimodal_audio_chunks)


def _s_ann_pq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-PQ build/query split (operators/similarity.py:
    pq_build_index / pq_query_index) — the fourth build-once/query-many
    index beside MinHash, IVF and containment: the codebook (<=64 rows)
    and the 16-int-per-vector codes dataset are written once; the query
    pass reads them back, re-encodes NOTHING corpus-side, and runs the
    same ADC helper as the in-session path.  Held to the SAME value-hash
    oracle as s_ann_pq_topk — a code corrupted by the parquet round trip
    or a codebook row reordered breaks the hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import (
        pq_build_index,
        pq_query_index,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    idx = os.path.join(_scratch_dir("pq_index", sf_dir), "pq")
    pq_build_index(e, idx)
    return pq_query_index(
        spark, e.filter(F.col("vec_id") < ANN_N_QUERIES), idx
    ).orderBy("query_id", "rank")


register(
    "s_ann_pq_persist",
    oracle=_PQ_CORE + f""",
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_dist, neighbor_id) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, approx_dist, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_s_ann_pq_persist)


def _q_window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS window-frame mode — the third ANSI frame unit beside ROWS
    (q_window_running) and RANGE (q_window_range_frame): the frame spans
    peer GROUPS of the ordering key (all rows tied on the key count as
    one step).  Spark 4 does not parse GROUPS (PARSE_SYNTAX_ERROR,
    probed), so this entry pins the standard EMULATION: DENSE_RANK gives
    each peer group a consecutive integer, and RANGE over that rank with
    the same bounds is exactly GROUPS over the original key.  DuckDB
    1.0.0 does not parse GROUPS either ("not implemented yet", probed),
    so BOTH engines run the same DENSE_RANK+RANGE emulation — the oracle
    here is a cross-engine value check of the emulation, while the TRUE
    GROUPS semantics are pinned by the hand-computed fixture in
    tests/test_sql_corpus.py (ties collapse to one frame step, frame sums
    include whole peer groups).  Scale shape: both windows share ONE
    priority-keyed shuffle (same partitioning), no global-order window."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH d AS (
          SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS od,
                 o_totalprice,
                 DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                    ORDER BY CAST(o_orderdate AS DATE)) AS dr
          FROM orders
        )
        SELECT o_orderpriority, od,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_in_frame,
               ROUND(SUM(o_totalprice) OVER w + 1e-6, 2) AS frame_total
        FROM d
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY dr
                     RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_orderpriority, od
        """
    )


register(
    "q_window_groups_frame",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS od,
             o_totalprice,
             DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(o_orderdate AS DATE)) AS dr
      FROM orders
    )
    SELECT o_orderpriority, od,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_frame,
           ROUND(SUM(o_totalprice) OVER w + 1e-6, 2) AS frame_total
    FROM d
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY dr
                 RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderpriority, od
    """,
    tables=("orders",),
)(_q_window_groups_frame)


def _e_streaming_pq_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ADC lookup against the persisted PQ index
    (streaming/events.py:streaming_pq_lookup): codes + codebook are built
    ONCE, then the query-vector stream probes them per micro-batch —
    completing the streaming build/query quartet (MinHash, IVF,
    containment, PQ).  Per-query independence from the fixed index makes
    the union of batches exactly the one-shot batch query, so the drained
    sink is held to the SAME parametrized PQ oracle with the stream's
    larger query set."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import pq_build_index
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_pq_lookup,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    scratch = _scratch_dir("stream_pq", sf_dir)
    idx = os.path.join(scratch, "pq")
    sink = os.path.join(scratch, "hits")
    pq_build_index(e, idx)
    reader = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1")
    src = _single_file_to_glob(reader, f"{sf_dir}/embeddings.parquet")
    stream = reader.parquet(src).filter(F.col("vec_id") < STREAM_ANN_N_QUERIES)
    q = streaming_pq_lookup(stream, idx, sink, k=ANN_K)
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "query_id long, neighbor_id long, approx_dist long, rank long, batch_id long",
    )
    return out.select("query_id", "neighbor_id", "approx_dist", "rank").orderBy(
        "query_id", "rank"
    )


register(
    "e_streaming_pq_lookup",
    oracle=_pq_core(STREAM_ANN_N_QUERIES) + f""",
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_dist, neighbor_id) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, approx_dist, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """,
    tables=("embeddings",),
)(_e_streaming_pq_lookup)


def _x_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram (operators/scale.py:
    equidepth_histogram) over events.value, k=8 — the skew-robust twin
    of q_value_histogram's fixed-width buckets, and the exact arithmetic
    behind balanced range partitioning: the (lo, hi] bounds this emits
    are the split points repartitionByRange ESTIMATES from a reservoir
    sample, computed exactly.  Ranks ride bucketed_prefix_sums (no
    global-order window); each distinct value lands whole in one bucket,
    so per-bucket counts deviate from n/k only by value multiplicity —
    which the hashed n_rows column proves."""
    from polars_view_spark.operators.scale import equidepth_histogram

    t = load_tables(spark, sf_dir, "events")
    return equidepth_histogram(t["events"], "value", k=8)


register(
    "x_equidepth_histogram",
    oracle="""
    WITH pts AS (
      SELECT value AS v, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY value
    ),
    cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum_c FROM pts),
    tot AS (SELECT MAX(cum_c) AS n FROM cum),
    b AS (
      SELECT v, c,
             CAST((cum_c - 1) * 8 // (SELECT n FROM tot) AS INT) AS bucket
      FROM cum
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           MIN(v) AS lo, MAX(v) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    tables=("events",),
)(_x_equidepth_histogram)


# ---------------------------------------------------------------------------
# Round 10: IVF-PQ composition (VERDICT r09 task 6)
# ---------------------------------------------------------------------------

IVFPQ_SHORTLIST = 50


def _s_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN configuration the flat-PQ docstrings
    promise (operators/similarity.py:ivfpq_topk; FAISS ``IVFx,PQy``):
    the deterministic seed-centroid inverted file prunes each query to
    {IVF_N_PROBE} cells, ADC over 16-int codes shortlists 50 candidates
    WITHIN those cells only, and the exact integer L2 rerank removes the
    quantization error.  Composes the two already-verified building
    blocks (ivf_flat_topk's cell assignment; the shared PQ kernels), so
    the oracle replays the FULL three-stage trajectory — a cell flipped
    by a tie, a code off by one, or a shortlist boundary moved all break
    the value hash.  The PQ stage provably loses nothing beyond the
    pruning: ivfpq ∩ ivf_flat recall is pinned ≥0.8 in pytest (measured
    1.0 — shortlist 50 covers the probed cells at test scale)."""
    from polars_view_spark.operators.similarity import ivfpq_topk

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    return ivfpq_topk(
        e,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        k=ANN_K,
        ivf_seed_mod=IVF_SEED_MOD,
        n_probe=IVF_N_PROBE,
        max_seeds=IVF_MAX_SEEDS,
        scale=IVF_SCALE,
        shortlist=IVFPQ_SHORTLIST,
    ).orderBy("query_id", "rank")


# Parametrized on the query-set size the way _ivf_topk_oracle/_pq_core
# are, so the in-session, persisted-index and streaming-lookup entries
# share ONE statement of the three-stage trajectory.
def _ivfpq_oracle(n_queries: int = ANN_N_QUERIES) -> str:
    return f"""
    WITH qz AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[],
             x -> CAST(round(x * {IVF_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    iseeds AS (
      SELECT vec_id AS cell, qv AS sv FROM qz
      WHERE vec_id % {IVF_SEED_MOD} = 0 ORDER BY vec_id LIMIT {IVF_MAX_SEEDS}
    ),
    idists AS (
      SELECT a.vec_id, s.cell,
             list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (a.qv[i] - s.sv[i]) * (a.qv[i] - s.sv[i]))) AS d
      FROM qz a CROSS JOIN iseeds s
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM idists) t
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM idists WHERE vec_id < {n_queries}) t
      WHERE rn <= {IVF_N_PROBE}
    ),
    pseeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, qv AS sv
      FROM qz WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 64
    ),
    pdists AS (
      SELECT a.vec_id, m.m, s.j,
             list_sum(list_transform(range(1, 5),
               i -> (a.qv[CAST(m.m*4 + i AS INT)] - s.sv[CAST(m.m*4 + i AS INT)])
                  * (a.qv[CAST(m.m*4 + i AS INT)] - s.sv[CAST(m.m*4 + i AS INT)]))) AS d
      FROM qz a CROSS JOIN range(0, 16) m(m) CROSS JOIN pseeds s
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM pdists) t
      WHERE rn = 1
    ),
    adc AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(qd.d) AS BIGINT) AS approx_dist
      FROM probes p
      JOIN assigned a2 USING (cell)
      JOIN codes c ON c.vec_id = a2.vec_id AND c.vec_id != p.query_id
      JOIN pdists qd ON qd.vec_id = p.query_id AND qd.m = c.m AND qd.j = c.code
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY approx_dist, neighbor_id) AS rn
        FROM adc) t
      WHERE rn <= {IVFPQ_SHORTLIST}
    ),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT)
               AS exact_dist
      FROM short s
      JOIN qz q ON q.vec_id = s.query_id
      JOIN qz c ON c.vec_id = s.neighbor_id
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY exact_dist, neighbor_id) AS rank
      FROM ex
    )
    SELECT query_id, neighbor_id, exact_dist, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {ANN_K} ORDER BY query_id, rank
    """


register(
    "s_ann_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    tables=("embeddings",),
)(_s_ann_ivfpq)


def _s_ann_ivfpq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ build/query split (operators/similarity.py:
    ivfpq_build_index / ivfpq_query_index) — the fifth build-once/
    query-many index, and the first whose query-side scan is PARTITION-
    PRUNED: codes are written partitioned by cell, so the probe join
    dynamically prunes to n_probe/n_cells of the index files (gated in
    TestIVFPQ) and reads 16 small ints per surviving vector.  The base
    table is joined BY ID only for the O(queries × shortlist) rerank
    fetch.  Shares _ivfpq_shortlist/_exact_l2_rerank with the in-session
    path, so it is held to the SAME oracle as s_ann_ivfpq_topk — a code
    corrupted by the parquet round trip, a centroid row reordered, or a
    partition-value type drift all break the hash."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    idx = os.path.join(_scratch_dir("ivfpq_index", sf_dir), "ivfpq")
    ivfpq_build_index(
        e, idx, ivf_seed_mod=IVF_SEED_MOD, max_seeds=IVF_MAX_SEEDS,
        scale=IVF_SCALE,
    )
    return ivfpq_query_index(
        spark,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        idx,
        e,
        k=ANN_K,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
        shortlist=IVFPQ_SHORTLIST,
    ).orderBy("query_id", "rank")


register(
    "s_ann_ivfpq_persist",
    oracle=_ivfpq_oracle(),
    tables=("embeddings",),
)(_s_ann_ivfpq_persist)


def _e_streaming_ivfpq_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lookup against the persisted IVF-PQ index
    (streaming/events.py:streaming_ivfpq_lookup): the index is built
    ONCE, then the query-vector stream probes it per micro-batch with
    each batch's scan partition-pruned to its probe cells — the fifth
    streaming build/query split, and the only one whose per-batch cost
    is a SLIVER of the index rather than a full codes scan.  Per-query
    independence from the fixed index makes the drained sink equal the
    one-shot batch query, so it is held to the same parametrized
    three-stage oracle with the stream's larger query set."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import ivfpq_build_index
    from polars_view_spark.streaming.events import (
        _single_file_to_glob,
        read_sink_or_empty,
        streaming_ivfpq_lookup,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    scratch = _scratch_dir("stream_ivfpq", sf_dir)
    idx = os.path.join(scratch, "ivfpq")
    sink = os.path.join(scratch, "hits")
    ivfpq_build_index(
        e, idx, ivf_seed_mod=IVF_SEED_MOD, max_seeds=IVF_MAX_SEEDS,
        scale=IVF_SCALE,
    )
    reader = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1")
    src = _single_file_to_glob(reader, f"{sf_dir}/embeddings.parquet")
    stream = reader.parquet(src).filter(F.col("vec_id") < STREAM_ANN_N_QUERIES)
    q = streaming_ivfpq_lookup(
        stream, idx, e, sink, k=ANN_K, n_probe=IVF_N_PROBE,
        scale=IVF_SCALE, shortlist=IVFPQ_SHORTLIST,
    )
    q.awaitTermination()
    out = read_sink_or_empty(
        spark,
        sink,
        "query_id long, neighbor_id long, exact_dist long, rank long, batch_id long",
    )
    return out.select("query_id", "neighbor_id", "exact_dist", "rank").orderBy(
        "query_id", "rank"
    )


register(
    "e_streaming_ivfpq_lookup",
    oracle=_ivfpq_oracle(STREAM_ANN_N_QUERIES),
    tables=("embeddings",),
)(_e_streaming_ivfpq_lookup)


FUNNEL_STEPS = ("view", "click", "purchase")


def _e_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over events (operators/events.py:funnel_steps):
    view → click → purchase, each step counting only users whose step-N
    event falls STRICTLY AFTER their qualifying step-N-1 event.  The
    chained first-qualifying-timestamp windows share one user-keyed
    sort-partitioning (one Exchange, three Window nodes); per-row state
    is three timestamps regardless of a user's event count.  The oracle
    replays the identical window DP, so a tie broken differently or a
    boundary made non-strict breaks the hash."""
    from polars_view_spark.operators.events import funnel_steps

    t = load_tables(spark, sf_dir, "events")
    return funnel_steps(t["events"], steps=FUNNEL_STEPS)


register(
    "e_funnel_steps",
    oracle="""
    WITH w1 AS (
      SELECT user_id, ts, event_id, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0
      FROM events
    ),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click'
                          AND t0 IS NOT NULL AND ts > t0 THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
      FROM w1
    ),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase'
                          AND t1 IS NOT NULL AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
      FROM w2
    ),
    pu AS (
      SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
      FROM w3 GROUP BY 1
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM pu
    )
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, n0 AS n_users FROM c
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', n1 FROM c
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', n2 FROM c
    ORDER BY step
    """,
    tables=("events",),
)(_e_funnel_steps)


def _e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix (operators/events.py:
    retention_cohorts): users cohorted by the Monday-start week of their
    first event; each cell counts the cohort's users active
    ``week_offset`` weeks later.  No join — the cohort label travels
    with the row through an orderless user-partitioned window min, and
    the week arithmetic is exact (day diffs are multiples of 7 in both
    engines)."""
    from polars_view_spark.operators.events import retention_cohorts

    t = load_tables(spark, sf_dir, "events")
    return retention_cohorts(t["events"])


register(
    "e_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS aw,
             CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
                  AS DATE) AS cw
      FROM events
    ),
    a AS (
      SELECT DISTINCT user_id, cw AS cohort_week,
             CAST(datediff('day', cw, aw) // 7 AS BIGINT) AS week_offset
      FROM f
    )
    SELECT cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM a GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tables=("events",),
)(_e_retention_cohorts)


def _s_ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ (operators/similarity.py:ivfpq_append_index):
    build the index WITHOUT a withheld slice, append the slice, query the
    grown index — held to the SAME three-stage oracle over the FULL
    corpus, so an append that drops vectors, mis-assigns a cell,
    re-derives a codeword, or double-writes breaks the value hash.  The
    withheld slice deliberately excludes seed-eligible ids for BOTH
    frozen tables (``% {IVF_SEED_MOD} != 0`` for centroids, ``% 7 != 0``
    for codewords) so build-time geometry equals the oracle's
    all-at-once derivation — freezing is the append contract."""
    import os

    from polars_view_spark.catalog import _scratch_dir
    from polars_view_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
        ivfpq_query_index,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    later = (
        (F.col("vec_id") % 10 == 5)
        & (F.col("vec_id") % IVF_SEED_MOD != 0)
        & (F.col("vec_id") % 7 != 0)
    )
    idx = os.path.join(_scratch_dir("ivfpq_append", sf_dir), "ivfpq")
    ivfpq_build_index(
        e.filter(~later), idx, ivf_seed_mod=IVF_SEED_MOD,
        max_seeds=IVF_MAX_SEEDS, scale=IVF_SCALE,
    )
    ivfpq_append_index(e.filter(later), idx, scale=IVF_SCALE)
    return ivfpq_query_index(
        spark,
        e.filter(F.col("vec_id") < ANN_N_QUERIES),
        idx,
        e,
        k=ANN_K,
        n_probe=IVF_N_PROBE,
        scale=IVF_SCALE,
        shortlist=IVFPQ_SHORTLIST,
    ).orderBy("query_id", "rank")


register(
    "s_ann_ivfpq_append",
    oracle=_ivfpq_oracle(),
    tables=("embeddings",),
)(_s_ann_ivfpq_append)


def _x_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/scale.py:psi_drift) over the
    same click-vs-view value slices as x_ks_drift — the bucketed
    WHERE-did-it-move diagnostic beside KS's exact did-it-move number.
    Counts are exact integers; the per-bucket ``(p−q)·ln(p/q)`` term is
    the one transcendental, rounded at 4 dp per the rounding rule.  All
    k buckets emitted even when empty (generated spine), so the output
    shape is data-independent."""
    from polars_view_spark.operators.scale import psi_drift

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    return psi_drift(
        ev.filter(F.col("event_type") == "click").select("value"),
        ev.filter(F.col("event_type") == "view").select("value"),
        "value",
    )


register(
    "x_psi_drift",
    oracle="""
    WITH r AS (SELECT value AS v FROM events
               WHERE event_type = 'click' AND value IS NOT NULL),
    c AS (SELECT value AS v FROM events
          WHERE event_type = 'view' AND value IS NOT NULL),
    e AS (SELECT min(v) AS lo, max(v) AS hi FROM r),
    b AS (
      SELECT LEAST(9, GREATEST(0, CAST(floor(
               (v - lo) * 10 / (CASE WHEN hi = lo THEN CAST(1 AS DOUBLE)
                                ELSE hi - lo END)) AS INT))) AS bucket,
             1 AS cr, 0 AS cc
      FROM r, e
      UNION ALL
      SELECT LEAST(9, GREATEST(0, CAST(floor(
               (v - lo) * 10 / (CASE WHEN hi = lo THEN CAST(1 AS DOUBLE)
                                ELSE hi - lo END)) AS INT))) AS bucket,
             0 AS cr, 1 AS cc
      FROM c, e
    ),
    g AS (SELECT bucket, sum(cr) AS n_ref, sum(cc) AS n_cur FROM b GROUP BY 1),
    spine AS (SELECT CAST(x AS BIGINT) AS bucket FROM range(10) t(x)),
    j AS (
      SELECT s.bucket, COALESCE(g.n_ref, 0) AS n_ref,
             COALESCE(g.n_cur, 0) AS n_cur
      FROM spine s LEFT JOIN g USING (bucket)
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
    SELECT bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((GREATEST(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 0.0001)
                - GREATEST(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 0.0001))
              * ln(GREATEST(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 0.0001)
                 / GREATEST(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 0.0001)),
              4) AS psi_term
    FROM j, t ORDER BY bucket
    """,
    tables=("events",),
)(_x_psi_drift)


def _d_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with the PRODUCTION keep rule
    (operators/dedup.py:dedup_keep_best): one fingerprint-keyed window
    keeps each duplicate group's highest-quality member (composite
    quality score, ties → lowest doc_id) instead of d_dedup_exact's
    minimum id.  Fingerprint and quality are computed in the SAME scan
    (both pure codegen projections), so the whole operator is one
    shuffle; the oracle recomputes fingerprint, score, and the ranked
    keep decision end to end."""
    from polars_view_spark.operators.dedup import dedup_keep_best
    from polars_view_spark.operators.textstats import fingerprint, quality_score

    t = load_tables(spark, sf_dir, "documents")
    d = quality_score(fingerprint(t["documents"]))
    return (
        dedup_keep_best(d, "fingerprint", "doc_id", "quality")
        .select("doc_id", "fingerprint", "quality")
        .orderBy("doc_id")
    )


register(
    "d_dedup_keep_best",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text, ' ')),
                 '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fingerprint,
             round(0.4 * least({_q_words} / 100.0, 1.0)
                 + 0.3 * (1.0 - {_q_punct} / CAST(greatest(length(text), 1) AS DOUBLE))
                 + 0.3 * least({_q_stops} / CAST(greatest({_q_words}, 1) AS DOUBLE) * 5.0, 1.0),
               6) AS quality
      FROM documents
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                ORDER BY quality DESC, doc_id) AS rn
      FROM q
    )
    SELECT doc_id, fingerprint, quality FROM r WHERE rn = 1 ORDER BY doc_id
    """,
    tables=("documents",),
)(_d_dedup_keep_best)


def _x_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group (lower) median without sorting raw rows
    (operators/scale.py:grouped_exact_median): collapse to distinct
    (group, value) counts, accumulate within each group — a
    group-partitioned window, never a global one — and take the smallest
    value whose cumulative count reaches ceil(n/2).  The exact companion
    of percentile_approx, per group: the shuffle carries distinct
    values, not rows, so it holds at any group cardinality."""
    from polars_view_spark.operators.scale import grouped_exact_median

    t = load_tables(spark, sf_dir, "events")
    return grouped_exact_median(t["events"], "event_type", "value")


register(
    "x_grouped_median",
    oracle="""
    WITH pts AS (
      SELECT event_type AS g, value AS v, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM pts
    )
    SELECT g AS event_type, MIN(v) AS median, CAST(MAX(n) AS BIGINT) AS n_rows
    FROM cum WHERE cum * 2 >= n GROUP BY g ORDER BY g
    """,
    tables=("events",),
)(_x_grouped_median)


def _x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix
    (operators/events.py:event_transitions): adjacency from one lag
    window over the funnel's user-keyed sort-partitioning — never an
    events⋈events self-join — then a rollup onto the |types|² matrix
    with integer-exact per-from_type shares (count·10⁶ // row total)."""
    from polars_view_spark.operators.events import event_transitions

    t = load_tables(spark, sf_dir, "events")
    return event_transitions(t["events"])


register(
    "x_event_transitions",
    oracle="""
    WITH p AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    g AS (
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      FROM p WHERE prev IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS share_ppm
    FROM g ORDER BY from_type, to_type
    """,
    tables=("events",),
)(_x_event_transitions)


def _x_grouped_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group p90 (operators/scale.py:grouped_exact_quantile at
    q_ppm=900000) — the tail-threshold companion of x_grouped_median:
    same distinct-value shuffle, same pure-integer rank test
    cum·10⁶ ≥ 9·10⁵·n, different cut point.  Run it where a p90 gate is
    about to move and percentile_approx's error band is too coarse."""
    from polars_view_spark.operators.scale import grouped_exact_quantile

    t = load_tables(spark, sf_dir, "events")
    return grouped_exact_quantile(
        t["events"], "event_type", "value", 900_000, out_col="p90"
    )


register(
    "x_grouped_p90",
    oracle="""
    WITH pts AS (
      SELECT event_type AS g, value AS v, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM pts
    )
    SELECT g AS event_type, MIN(v) AS p90, CAST(MAX(n) AS BIGINT) AS n_rows
    FROM cum WHERE cum * 1000000 >= 900000 * n GROUP BY g ORDER BY g
    """,
    tables=("events",),
)(_x_grouped_p90)


def _x_grouped_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group median absolute deviation
    (operators/scale.py:grouped_mad): the robust spread behind
    heavy-tail-safe anomaly screens — both medians exact lower-median
    elements of the data, the per-group medians joined back on the
    group key (AQE broadcast when small), pass 2 reuses the same
    quantile primitive over deviations."""
    from polars_view_spark.operators.scale import grouped_mad

    t = load_tables(spark, sf_dir, "events")
    return grouped_mad(t["events"], "event_type", "value")


register(
    "x_grouped_mad",
    oracle="""
    WITH pts AS (
      SELECT event_type AS g, value AS v, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM pts
    ),
    med AS (
      SELECT g, MIN(v) AS median FROM cum
      WHERE cum * 2 >= n GROUP BY g
    ),
    dev AS (
      SELECT e.event_type AS g, m.median, abs(e.value - m.median) AS d
      FROM events e JOIN med m ON m.g = e.event_type
      WHERE e.value IS NOT NULL
    ),
    dpts AS (SELECT g, median, d, count(*) AS c FROM dev GROUP BY 1, 2, 3),
    dcum AS (
      SELECT g, median, d, c,
             SUM(c) OVER (PARTITION BY g ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM dpts
    )
    SELECT g AS event_type, MIN(median) AS median, MIN(d) AS mad,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM dcum WHERE cum * 2 >= n GROUP BY g ORDER BY g
    """,
    tables=("events",),
)(_x_grouped_mad)


def _x_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified z-score outlier screen (operators/scale.py:
    robust_outliers): |v − median| > 5.189·MAD per event_type — the
    50%-breakdown-point alternative to e_anomaly_zscore's mean/σ, which
    one extreme value can blind.  Medians/MADs are exact data elements,
    deviations exact doubles, counts exact integers — no rounding in the
    whole trajectory."""
    from polars_view_spark.operators.scale import robust_outliers

    t = load_tables(spark, sf_dir, "events")
    return robust_outliers(t["events"], "event_type", "value")


register(
    "x_robust_outliers",
    oracle="""
    WITH pts AS (
      SELECT event_type AS g, value AS v, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM pts
    ),
    med AS (SELECT g, MIN(v) AS median FROM cum WHERE cum * 2 >= n GROUP BY g),
    dev AS (
      SELECT e.event_type AS g, abs(e.value - m.median) AS d
      FROM events e JOIN med m ON m.g = e.event_type
      WHERE e.value IS NOT NULL
    ),
    dpts AS (SELECT g, d, count(*) AS c FROM dev GROUP BY 1, 2),
    dcum AS (
      SELECT g, d, c,
             SUM(c) OVER (PARTITION BY g ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM dpts
    ),
    mad AS (SELECT g, MIN(d) AS mad FROM dcum WHERE cum * 2 >= n GROUP BY g),
    fl AS (
      SELECT e.event_type AS g,
             abs(e.value - m.median) AS dev,
             abs(e.value - m.median) * 1000 > 5189 * a.mad AS is_out
      FROM events e
      JOIN med m ON m.g = e.event_type
      JOIN mad a ON a.g = e.event_type
      WHERE e.value IS NOT NULL
    )
    SELECT g AS event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS outlier_ppm,
           MAX(dev) AS max_abs_dev
    FROM fl GROUP BY g ORDER BY g
    """,
    tables=("events",),
)(_x_robust_outliers)


def _e_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct users per day
    (operators/events.py:rolling_distinct_users): the non-window-additive
    COUNT(DISTINCT) made distributed by the bounded explode — (user, day)
    pairs dedup ONCE, each pair covers its 7 report days, re-dedup,
    count.  Shuffles touch collapsed pairs (≤7×), never re-scan raw
    events per day; dense day spine so empty days emit 0."""
    from polars_view_spark.operators.events import rolling_distinct_users

    t = load_tables(spark, sf_dir, "events")
    return rolling_distinct_users(t["events"], window_days=7)


register(
    "e_rolling_distinct_users",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      FROM events WHERE ts IS NOT NULL
    ),
    covered AS (
      SELECT DISTINCT u, d + CAST(x AS INT) AS rd
      FROM pairs, range(7) t(x)
    ),
    counts AS (SELECT rd, CAST(count(*) AS BIGINT) AS n_users FROM covered GROUP BY 1),
    b AS (SELECT min(d) AS lo, max(d) AS hi FROM pairs),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS report_day
      FROM b
    )
    SELECT s.report_day, COALESCE(c.n_users, 0) AS n_users
    FROM spine s LEFT JOIN counts c ON c.rd = s.report_day
    ORDER BY s.report_day
    """,
    tables=("events",),
)(_e_rolling_distinct_users)


def _e_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample + forward fill
    (operators/events.py:resample_ffill): every (type, hour) of the
    observed range appears (quiet hours n=0), filled_sum carries the
    last observed hourly sum forward per type — the gap-filling twin of
    e_tumbling_agg, whose sparse output is exactly what dashboards and
    join-on-time consumers cannot use directly."""
    from polars_view_spark.operators.events import resample_ffill

    t = load_tables(spark, sf_dir, "events")
    return resample_ffill(t["events"])


register(
    "e_resample_ffill",
    oracle="""
    WITH agg AS (
      SELECT event_type AS t, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value) + 1e-6, 2) AS sum_value
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    b AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events WHERE ts IS NOT NULL
    ),
    hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b
    ),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    spine AS (SELECT t, h FROM types, hours),
    j AS (
      SELECT s.t, s.h, COALESCE(a.n_events, 0) AS n_events, a.sum_value
      FROM spine s LEFT JOIN agg a ON a.t = s.t AND a.h = s.h
    )
    SELECT t AS event_type,
           strftime(h, '%Y-%m-%d %H:%M') AS bucket_hour,
           CAST(n_events AS BIGINT) AS n_events,
           last_value(sum_value IGNORE NULLS)
             OVER (PARTITION BY t ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_sum
    FROM j ORDER BY event_type, bucket_hour
    """,
    tables=("events",),
)(_e_resample_ffill)
