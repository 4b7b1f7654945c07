"""LLM-data-pipeline queries (SURVEY §7 Phase 4) over ``documents``
and ``embeddings``: dedup, text analysis, similarity. Every operator
here is the row-parallel or one-shuffle shape that survives 100 TB —
no driver-side loops, no quadratic blowup without an explicit
candidate-pruning stage first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators import windows as win
from ..sources.catalog import load_table
from . import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition — only when the scan under-splits.

    The documents/embeddings parquet at test SFs is one small file →
    one input partition, which would serialize every downstream
    pair-generation stage onto a single core. At 100 TB the scan
    arrives pre-split into thousands of partitions, so the exchange is
    GATED: if the scan already produced at least the session's
    parallelism, return the input untouched and plan no shuffle at all
    (r2 advice — the unconditional exchange was a small-file artifact
    riding along into production plans).

    Target is CORE parallelism, not spark.sql.shuffle.partitions: an
    explicit repartition(n) is honored verbatim (AQE never coalesces
    it), so tying it to the shuffle-partition knob quadrupled the task
    count of every small-doc stage when that knob moved to 4x cores —
    one wave of core-count partitions is exactly what a
    spread-for-parallelism exchange wants."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = """
SELECT doc_id, lang, source
FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
"""


@register("dedup_exact", DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic survivor (lowest doc_id per text).

    One hash shuffle on the text (at 100 TB: on a 64-bit content
    fingerprint instead, so the shuffle moves 8-byte keys, not bodies).
    """
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return win.first_per_key(docs, "text", "doc_id").select("doc_id", "lang", "source")


FINGERPRINT_DEDUP_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % {tx.FINGERPRINT_MOD}
           ) AS fp
    FROM documents
)
SELECT doc_id, fp
FROM (SELECT doc_id, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp)
WHERE rn = 1
"""


@register("fingerprint_dedup", FINGERPRINT_DEDUP_ORACLE)
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-fingerprint dedup: rolling polynomial hash per document,
    survivors = lowest doc_id per fingerprint. This is the scale path
    for exact dedup — the shuffle key is 8 bytes instead of the body."""
    docs = _spread(spark, _t(spark, sf_dir, "documents")).withColumn(
        "fp", tx.fingerprint("text")
    )
    return win.first_per_key(docs, "fp", "doc_id").select("doc_id", "fp")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

TOKEN_STATS_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(text, ' '), t -> CAST(len(t) AS BIGINT))),
                 (a, b) -> a + b) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS avg_token_len
FROM documents
"""


@register("token_stats", TOKEN_STATS_ORACLE)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace) + vocabulary stats per document —
    array higher-order functions, fully codegen'd, row-parallel."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.distinct_token_count("text").alias("n_distinct"),
        F.round(tx.avg_token_len("text"), 4).alias("avg_token_len"),
    )


QUALITY_SCORE_ORACLE = """
WITH t AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
)
SELECT lang,
       round(avg(
           least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5
           + CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) * 0.5
       ), 4) AS avg_quality,
       count(*) AS n_docs
FROM t
GROUP BY lang
ORDER BY lang
"""


@register("quality_scores", QUALITY_SCORE_ORACLE)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length saturation + stopword density),
    profiled per language."""
    docs = _spread(spark, _t(spark, sf_dir, "documents")).withColumn(
        "q", tx.quality_score("text")
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


LANG_CONFUSION_ORACLE = """
WITH scored AS (
    SELECT lang,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              ['the', 'a', 'and', 'of', 'to'])) AS s_en,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              ['el', 'la', 'de', 'que', 'y'])) AS s_es,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              ['le', 'la', 'de', 'et', 'un'])) AS s_fr
    FROM documents
)
SELECT lang,
       CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       count(*) AS n
FROM scored
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


@register("lang_id_confusion", LANG_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-anchor argmax) cross-tabulated
    against the labeled language."""
    docs = _spread(spark, _t(spark, sf_dir, "documents")).withColumn(
        "pred_lang", tx.lang_id("text")
    )
    return (
        docs.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


# Flag thresholds sit just inside the observed sf0.01 distribution
# (ttr p05=0.31, dup-bigram p95=0.083, top-token p95=0.16) so the rule
# flags a real minority rather than 0% or 100%. Every metric is an
# integer-over-integer double division — IEEE-exact, so the threshold
# comparisons agree bit-for-bit across engines with no rounding guard.
REP_TTR_MIN = 0.35
REP_DUP_BIGRAM_MAX = 0.05
REP_TOP_TOKEN_MAX = 0.12

REPETITION_FLAGS_ORACLE = f"""
WITH t AS (
    SELECT lang, source, string_split(text, ' ') AS toks FROM documents
),
m AS (
    SELECT lang, source,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
           1.0 - CAST(len(list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
                 / (len(toks) - 1) AS dupbg,
           CAST(list_max(list_transform(list_distinct(toks),
                     t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
                 / len(toks) AS toptok
    FROM t WHERE len(toks) >= 2
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE ttr < {REP_TTR_MIN}
                                OR dupbg > {REP_DUP_BIGRAM_MAX}
                                OR toptok > {REP_TOP_TOKEN_MAX}) AS BIGINT) AS n_flagged,
       round(avg(ttr), 4) AS avg_ttr,
       round(avg(dupbg), 4) AS avg_dup_bigram,
       round(avg(toptok), 4) AS avg_top_token
FROM m
GROUP BY lang, source
ORDER BY lang, source
"""


@register("repetition_quality_flags", REPETITION_FLAGS_ORACLE)
def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021,
    §A1.1): type-token ratio, duplicate-bigram fraction, top-token
    fraction, and the flag rule that gates documents out of a
    pretraining mix — profiled per (lang, source) so curators see
    which feeds are repetitive.

    Scale shape: all three metrics are row-local (zero shuffle until
    the final bounded (lang, source) aggregation, which
    partial-aggregates map-side), computed in one Arrow mapInPandas
    kernel (tx.repetition_metrics) — the HOF-fold forms they replace
    are interpreted per array element and paid ~15 s at sf1 for
    row-local math; one C-speed Counter pass per doc does the same
    integer counts with bit-identical final divisions. Still cheaper
    than the explode + (doc, token) groupBy alternative, whose
    shuffle grows with the corpus."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    m = tx.repetition_metrics(docs, "text", ("lang", "source"))
    flagged = (
        (F.col("ttr") < REP_TTR_MIN)
        | (F.col("dupbg") > REP_DUP_BIGRAM_MAX)
        | (F.col("toptok") > REP_TOP_TOKEN_MAX)
    )
    return (
        m.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(flagged).alias("n_flagged"),
            F.round(F.avg("ttr"), 4).alias("avg_ttr"),
            F.round(F.avg("dupbg"), 4).alias("avg_dup_bigram"),
            F.round(F.avg("toptok"), 4).alias("avg_top_token"),
        )
        .orderBy("lang", "source")
    )


TOP_TERMS_ORACLE = """
SELECT lang, token, n
FROM (
    SELECT lang, token, count(*) AS n,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rn
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY lang, token
)
WHERE rn <= 5
"""


@register("top_terms_by_lang", TOP_TERMS_ORACLE)
def top_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-terms (A1 over exploded tokens): explode → two-key
    count → top-5 per group. The explode keeps rows wide-partitioned;
    the count is partial-aggregated before its single shuffle."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tokens = docs.select("lang", F.explode(tx.tokenize("text")).alias("token"))
    counts = tokens.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    return win.topk_per_group(counts, ["lang"], "n", k=5, tiebreak="token").select(
        "lang", "token", "n"
    )


# --------------------------------------------------------------------------
# Near-duplicate detection (n-gram Jaccard / MinHash LSH / SimHash)
# --------------------------------------------------------------------------

def _ngram_jaccard_oracle(max_df: int | None, doc_filter: str | None = None) -> str:
    cap = (
        f""",
hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > {max_df}),
exc AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot))"""
        if max_df is not None
        else ",\nexc AS (SELECT * FROM ex)"
    )
    src = f"documents WHERE {doc_filter}" if doc_filter else "documents"
    return f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM {src}),
sh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS s FROM tok),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh){cap},
sizes AS (SELECT doc_id, count(*) AS sz FROM exc GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
    FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d1, d2,
       round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
FROM common
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.3
"""


NGRAM_CAPPED_MAX_DF = 40


def _shingle_hashes(
    spark: SparkSession, sf_dir: str, doc_filter: str | None = None
) -> DataFrame:
    """(doc_id, hs) bigram-shingle hash arrays, persisted — the shared
    per-char token-fold lineage every dedup/sketch path starts from.
    Audits that run two sketch paths over the same corpus (e.g.
    lsh_pr_audit) compute this ONCE and hand it to both, instead of
    paying the fold per path."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    if doc_filter:
        docs = docs.where(F.expr(doc_filter))
    return scoped_persist(
        docs.selectExpr("doc_id", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", dd.spark_shingle_hashes_expr(2) + " AS hs")
    )


def _ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_df: int | None = None,
    doc_filter: str | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Shared core of the exact and df-capped Jaccard queries.

    The inverted index is keyed on HASHED shingles (the same 8-byte
    token-fold hashes the MinHash/SimHash sketches consume), not
    shingle strings: the self-join shuffles 8-byte longs instead of
    ~20-byte strings with string comparators — measured 2.8× faster
    cold at sf0.1 with identical output (an intra-doc hash collision
    would perturb a set size, but both engines share the hash, so
    parity holds by construction and none occur at test SF).

    ``doc_filter`` (a portable SQL predicate on the documents scan)
    restricts the corpus BEFORE shingling, so the inverted index —
    and its quadratic per-key fan-out — is built only over the
    filtered doc set; ``shingles`` supplies a precomputed (doc_id, hs)
    frame (see _shingle_hashes) so composed audits share one fold.
    The shingle arrays are persisted BEFORE the explode: Generate
    re-evaluates an unmaterialized input expression once per output
    row (~|shingles|x the work); from cache it is a plain attribute."""
    sh = (
        shingles
        if shingles is not None
        else _shingle_hashes(spark, sf_dir, doc_filter)
    )
    ex = scoped_persist(sh.select("doc_id", F.explode("hs").alias("g")))
    if max_df is not None:
        # The hot set (shingles in more than max_df docs) is tiny by
        # construction — broadcast anti-join strips it from the index,
        # bounding every join key's fan-out at max_df.
        hot = (
            ex.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("g")
        )
        ex = scoped_persist(ex.join(F.broadcast(hot), "g", "left_anti"))
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("c").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        common.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .where(jac >= 0.3)
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
    )


# Deterministic doc hash-sample gating the DEFAULT exact-Jaccard
# query (same recipe as lsh_pr_audit, corpus.py): the uncapped
# inverted index is quadratic in per-shingle doc frequency, so the
# ungated form's cost is unbounded at corpus scale — it measured 77 s
# standalone at sf1 and its shuffle/GC backlog inflated in-bench
# neighbors up to 5x (SCALE.md). Sampling DOCS (not pairs) before
# shingling keeps every reported Jaccard exact; the pair population is
# simply restricted to pairs of sampled docs.
#
# The keep rate is RATE-CAPPED AND BUDGETED: keep_mille =
# min(MAX_MILLE, ceil(TARGET_DOCS * 1000 / n_docs)). Small corpora
# sample at 35%; past ~6k docs the sample converges to a ~constant
# TARGET_DOCS budget, so the query's quadratic core stops scaling
# with corpus size at all — at 10x data the sampled-doc count (and
# cost) is flat, which is what lets an exact-pair audit sit in a
# headline bench. Exact integer ceiling on both engines; the oracle
# derives the same keep from the same count via a scalar subquery.
NGRAM_EXACT_SAMPLE_MOD = 1000
NGRAM_EXACT_MAX_MILLE = 350
NGRAM_EXACT_TARGET_DOCS = 2000

_NGRAM_MIX = dd.mix_mod_sql(
    "doc_id", dd.SAMPLE_A, dd.SAMPLE_B, dd.SAMPLE_C, NGRAM_EXACT_SAMPLE_MOD
)


def _budget_keep_mille(n_rows: int, target: int, max_mille: int) -> int:
    """min(max_mille, ceil(target*1000/n)) — exact integer arithmetic,
    mirrored verbatim by the oracle's scalar subquery."""
    if n_rows <= 0:
        return max_mille
    return min(max_mille, -(-target * 1000 // n_rows))


def _budget_keep_mille_sql(count_from: str, target: int, max_mille: int) -> str:
    # greatest(cnt, 1) avoids a constant-folded divide-by-zero on an
    # empty table (where the filter selects nothing regardless)
    cnt = f"greatest((SELECT count(*) FROM {count_from}), 1)"
    return f"least({max_mille}, ({target * 1000} + {cnt} - 1) // {cnt})"


_NGRAM_DOC_FILTER_SQL = _NGRAM_MIX + " < " + _budget_keep_mille_sql(
    "documents", NGRAM_EXACT_TARGET_DOCS, NGRAM_EXACT_MAX_MILLE
)


@register("ngram_jaccard_pairs", _ngram_jaccard_oracle(None, _NGRAM_DOC_FILTER_SQL))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle Jaccard near-dup pairs via an inverted
    index: explode shingles -> self-equi-join on shingle -> common
    counts -> |A∩B|/|A∪B| >= 0.3. No O(n²): only docs sharing a
    shingle ever meet.

    SAMPLE-GATED BY DEFAULT: runs over a deterministic doc hash-sample
    (identical pmod mix in Spark and the oracle) applied BEFORE
    shingling, because the ungated index's per-key fan-out is
    quadratic in shingle doc-frequency and therefore unbounded on a
    skewed corpus. The keep rate is 35% capped at a ~2000-doc budget
    (see _budget_keep_mille), so on a large corpus the sampled-doc
    count — and the quadratic core's cost — is CONSTANT in corpus
    size. Every emitted Jaccard is exact; only the pair population is
    restricted to sampled-doc pairs. The ungated audit-truth form is
    audit_ngram_jaccard_pairs (registry-only, excluded from the
    headline bench); the linear production twin with bounded hot-key
    fan-out is ngram_jaccard_pairs_capped."""
    n = _t(spark, sf_dir, "documents").count()  # metadata-scale
    keep = _budget_keep_mille(n, NGRAM_EXACT_TARGET_DOCS, NGRAM_EXACT_MAX_MILLE)
    return _ngram_jaccard_pairs(
        spark, sf_dir, max_df=None, doc_filter=f"{_NGRAM_MIX} < {keep}"
    )


@register("audit_ngram_jaccard_pairs", _ngram_jaccard_oracle(None))
def audit_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNGATED exact-Jaccard audit twin: the full-corpus inverted-index
    truth that accuracy audits (minhash_accuracy_audit,
    semantic_dedup_crosscheck, dedup_clusters) are measured against.
    Quadratic in per-shingle doc frequency — unbounded cost on a
    skewed corpus — so it lives behind the audit_ prefix, outside the
    headline bench, and is meant for bounded sub-corpora or offline
    audit runs only. Default-gated twin: ngram_jaccard_pairs."""
    return _ngram_jaccard_pairs(spark, sf_dir, max_df=None)


@register("ngram_jaccard_pairs_capped", _ngram_jaccard_oracle(NGRAM_CAPPED_MAX_DF))
def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of ngram_jaccard_pairs: shingles appearing in
    more than max_df documents (stopword-like bigrams — the join keys
    whose fan-out is quadratic in df) are excluded from the index AND
    from the set sizes, so Jaccard is exact over the capped vocabulary
    and every inverted-index key joins at most max_df² pairs. The hot
    set itself is tiny and broadcast as an anti-join."""
    return _ngram_jaccard_pairs(spark, sf_dir, max_df=NGRAM_CAPPED_MAX_DF)


SHINGLE_DF_PROFILE_ORACLE = f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM documents),
sh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS s FROM tok),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
df AS (SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM ex GROUP BY g)
SELECT ex.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       round(avg(CAST(df AS DOUBLE)), 4) AS avg_df,
       CAST(max(df) AS BIGINT) AS max_df
FROM ex JOIN df USING (g)
GROUP BY ex.doc_id
ORDER BY ex.doc_id
"""


@register("shingle_df_profile", SHINGLE_DF_PROFILE_ORACLE)
def shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate profile: the mean and max DOCUMENT
    FREQUENCY of a doc's bigram shingles. High avg_df = the document
    is assembled from corpus-common phrasing (templates, navigation
    chrome, license boilerplate) — the per-DOC novelty complement to
    the per-PAIR near-dup detectors, and the direct observable behind
    choosing ngram_jaccard_pairs_capped's max_df (max_df here shows
    what the hot-shingle cap would strip from each doc). avg over
    integer-valued doubles < 2^53 sums exactly, so the 4-decimal
    round is order-insensitive across engines.

    Scale shape: LINEAR, unlike the pair detectors — explode, one
    partial-aggregated distinct-count per shingle, one equi-join back
    on the shingle key (fan-out = 1 row per occurrence, never
    quadratic), one per-doc rollup. The shingle fold is shared via
    _shingle_hashes' scoped persist."""
    sh = _shingle_hashes(spark, sf_dir)
    ex = scoped_persist(sh.select("doc_id", F.explode("hs").alias("g")))
    df = ex.groupBy("g").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    return (
        ex.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.round(F.avg(F.col("df").cast("double")), 4).alias("avg_df"),
            F.max("df").cast("bigint").alias("max_df"),
        )
        .orderBy("doc_id")
    )


def _minhash_lsh_oracle(doc_filter: str | None = None) -> str:
    src = f"documents WHERE {doc_filter}" if doc_filter else "documents"
    return f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM {src}),
hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
sig AS (SELECT doc_id,
           {dd.minhash_sig_sql_columns()}
        FROM hsh),
bands AS (
    {dd.minhash_bands_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT d1, d2, round({dd.minhash_est_sim_sql("x", "y")}, 4) AS est_sim
FROM cand
JOIN sig x ON cand.d1 = x.doc_id
JOIN sig y ON cand.d2 = y.doc_id
WHERE {dd.minhash_est_sim_sql("x", "y")} >= 0.5
"""


MINHASH_LSH_ORACLE = _minhash_lsh_oracle()


def _minhash_lsh_pairs_impl(
    spark: SparkSession,
    sf_dir: str,
    doc_filter: str | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Core of minhash_lsh_pairs; ``doc_filter`` restricts the docs
    scan before sketching, ``shingles`` supplies a precomputed
    (doc_id, hs) frame (see _ngram_jaccard_pairs)."""
    hs = (
        shingles
        if shingles is not None
        else _shingle_hashes(spark, sf_dir, doc_filter)
    )
    # Signatures are the expensive row-local lineage; persist so the
    # band explode and both post-candidate joins read them from cache.
    sig = scoped_persist(hs.selectExpr("doc_id", *dd.spark_minhash_sig_exprs()))
    # NARROW band join + join-back for agreement (the MLlib MinHashLSH
    # shape): the band self-join shuffles only (doc_id, band, bkey)
    # rows (~24 B/band-row), then the deduped candidate set fetches
    # signatures via two equi-joins on doc_id. The ride-along
    # alternative (32 sig longs copied into every band row) shuffles
    # ~16x more bytes per doc through the band join and re-scores each
    # pair once per colliding band — measured 2x slower at sf0.1 and
    # strictly more shuffle at any scale. AQE broadcasts the sig side
    # when it is small; on a 1000-executor corpus both joins are plain
    # doc_id equi-joins, candidate-set-bounded.
    bands = sig.select("doc_id", F.explode(dd.minhash_bands()).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    x = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"s{k}").alias(f"x{k}") for k in range(dd.N_MINHASH)],
    )
    y = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"s{k}").alias(f"y{k}") for k in range(dd.N_MINHASH)],
    )
    est = sum(
        (F.col(f"x{k}") == F.col(f"y{k}")).cast("int") for k in range(dd.N_MINHASH)
    ) / float(dd.N_MINHASH)
    return (
        cand.join(x, "d1")
        .join(y, "d2")
        .where(est >= 0.5)
        .select("d1", "d2", F.round(est, 4).alias("est_sim"))
    )


@register("minhash_lsh_pairs", MINHASH_LSH_ORACLE)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 32 portable affine min-hashes
    over bigram shingles (row-local), 16x2 LSH banding, NARROW
    band-bucket self-join for candidate pairs, then a join back to the
    persisted signature table for the agreement filter >= 0.5 (see
    _minhash_lsh_pairs_impl for the shuffle-byte accounting vs the
    ride-along alternative). Constants are shared verbatim with the
    oracle SQL (dedup.py).

    AUDIT-CLASS (r11, r10 verdict #2): the PLAN is the scale-safe
    banded equi-join, but the OUTPUT is the raw O(sum over dup
    clusters of k^2) pair dump — 819,328 candidate pairs at sf10, the
    r10 sweep's slowest entry by output volume alone. The production
    deliverable is minhash_dup_summary (per-doc degree/max-agreement,
    O(docs) rows — the same r10 treatment simhash_near_dups got); its
    downstream consumers dedup_clusters/dedup_survivors remain
    attested. This raw form stays registered for correctness
    attestation and forensic drill-down, out of the headline bench."""
    return _minhash_lsh_pairs_impl(spark, sf_dir)


MINHASH_DUP_SUMMARY_ORACLE = f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM documents),
hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
sig AS (SELECT doc_id,
           {dd.minhash_sig_sql_columns()}
        FROM hsh),
bands AS (
    {dd.minhash_bands_sql()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT d1, d2, round({dd.minhash_est_sim_sql("x", "y")}, 4) AS est_sim
    FROM cand
    JOIN sig x ON cand.d1 = x.doc_id
    JOIN sig y ON cand.d2 = y.doc_id
    WHERE {dd.minhash_est_sim_sql("x", "y")} >= 0.5
),
sym AS (
    SELECT d1 AS doc_id, est_sim FROM pairs
    UNION ALL
    SELECT d2 AS doc_id, est_sim FROM pairs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_near_dups,
       max(est_sim) AS max_est_sim
FROM sym
GROUP BY doc_id
"""


@register("minhash_dup_summary", MINHASH_DUP_SUMMARY_ORACLE)
def minhash_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash near-dup verdict — the bounded deliverable
    a curation run actually consumes: for every document with at least
    one LSH-candidate neighbor at estimated Jaccard >= 0.5, its
    near-dup degree and strongest agreement. Output is O(docs), not
    the raw O(dup-cluster k^2) pair dump of minhash_lsh_pairs.

    Two-level plan (``dd.two_level_summary``, exact): the group key is
    the 32-value signature array. Band candidacy and the agreement
    estimate depend on the signatures alone, so they run between
    distinct signatures, and a group of identical signatures is a
    clique at est 1.0.

    The sketch is one lambda-bound array expression, so the token and
    shingle folds run once per row and the only persisted frame is
    (doc_id, 32 longs). Degenerate docs (NULL text or <2 tokens)
    sketch to an all-NULL signature, which the oracle's joins never
    match; ``dd.SPARK_HAS_SHINGLES`` drops them before grouping."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sketch = docs.where(dd.SPARK_HAS_SHINGLES).selectExpr(
        "doc_id", dd.spark_minhash_sig_array_expr() + " AS sigarr"
    )

    def rep_pairs(grp: DataFrame) -> DataFrame:
        x = grp.select(
            F.col("rep").alias("r1"), F.col("g").alias("g1"), F.col("sigarr").alias("xa")
        )
        y = grp.select(
            F.col("rep").alias("r2"), F.col("g").alias("g2"), F.col("sigarr").alias("ya")
        )
        # same integer agreement as the 32-column oracle form
        est = F.expr(
            "aggregate(zip_with(xa, ya, (a, b) -> CAST(a = b AS INT)), 0, "
            f"(acc, v) -> acc + v) / {float(dd.N_MINHASH)}"
        )
        return (
            dd.band_candidates(grp)
            .join(x, "r1")
            .join(y, "r2")
            .where(est >= 0.5)
            .select("r1", "r2", "g1", "g2", F.round(est, 4).alias("score"))
        )

    return dd.two_level_summary(
        sketch, ["sigarr"], rep_pairs, 1.0, F.max, ("n_near_dups", "max_est_sim")
    )


SIMHASH_SIGNATURES_ORACLE = f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM documents),
hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
wid AS (SELECT doc_id, {dd.widened_hashes_sql()} AS wh FROM hsh)
SELECT doc_id, {dd.simhash_sql()} AS sketch
FROM wid
"""


@register("simhash_signatures", SIMHASH_SIGNATURES_ORACLE)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash content sketches (32-bit) over bigram shingles —
    row-local bit-majority of portable token hashes; the dedup key a
    crawler stores per document."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return (
        docs.selectExpr("doc_id", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", dd.spark_shingle_hashes_expr(2) + " AS hs")
        # widen once per row; the 62 bit-votes read the widened array
        .selectExpr("doc_id", dd.spark_widened_hashes_expr() + " AS wh")
        .selectExpr("doc_id", dd.spark_simhash_expr() + " AS sketch")
    )


SIMHASH_NEAR_DUPS_ORACLE = f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM documents),
hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
wid AS (SELECT doc_id, {dd.widened_hashes_sql()} AS wh FROM hsh),
sig AS (SELECT doc_id, {dd.simhash_sql()} AS h FROM wid)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= {dd.SIMHASH_HAMMING_BUDGET}
"""


def _simhash_near_dup_pairs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair core of simhash_near_dups (the raw audit form): deduped
    (d1 < d2, hamming) near-dup pairs via the pigeonhole combo-key
    join (see simhash_near_dups for the banding scheme)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    hs = (
        docs.selectExpr("doc_id", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", dd.spark_shingle_hashes_expr(2) + " AS hs")
        .selectExpr("doc_id", dd.spark_widened_hashes_expr() + " AS wh")
    )
    # Persist the sketches: the combo self-join's two branches read
    # the cached 8-byte sketches instead of recomputing hash lineage.
    sig = scoped_persist(hs.selectExpr("doc_id", dd.spark_simhash_expr() + " AS h"))
    # Combination banding (r11, r10 verdict #3): the old single-chunk
    # pigeonhole (7 chunks of 8 bits) bucketed n/256 docs per cell —
    # ~2k per cell at sf10's 500k docs, so the candidate join did
    # ~2k^2 comparisons per cell and the query cost 71.6 s. Packing
    # 2-of-8 block combinations into 14-bit keys shrinks buckets 64x
    # (n/16,384) for 4x the explode rows — same zero-false-negative
    # pigeonhole guarantee (Hamming <= 6 on 8 blocks leaves >= 2
    # blocks agreeing), A/B vs the chunk form recorded in SCALE.md
    # r11. The key width, not the corpus, now sets bucket occupancy
    # up through ~16M docs (1k-doc buckets); past that, raise
    # N_SIMHASH_BLOCKS (B=9: 18-bit keys, 84 combos).
    keys = sig.select(
        "doc_id", "h", F.explode(dd.simhash_combo_keys(F.col("h"))).alias("k")
    ).select("doc_id", "h", F.col("k.ki").alias("ki"), F.col("k.kv").alias("kv"))
    a = keys.select(
        F.col("doc_id").alias("d1"), F.col("h").alias("h1"), "ki", "kv"
    )
    b = keys.select(
        F.col("doc_id").alias("d2"), F.col("h").alias("h2"), "ki", "kv"
    )
    ham = dd.hamming64(F.col("h1"), F.col("h2"))
    return (
        a.join(b, ["ki", "kv"])
        .where((F.col("d1") < F.col("d2")) & (ham <= dd.SIMHASH_HAMMING_BUDGET))
        # a pair agreeing on k combos surfaces k times — dedup the
        # (already Hamming-filtered, tiny) survivor set
        .select("d1", "d2", ham.cast("int").alias("hamming"))
        .dropDuplicates(["d1", "d2"])
    )


@register("simhash_near_dups", SIMHASH_NEAR_DUPS_ORACLE)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance <= budget (6) on the
    62-bit widened sketches, found WITHOUT an all-pairs scan. The
    sketch splits into 8 blocks and every 2-block combination becomes
    a 14-bit join key (Manku et al.'s permuted-table scheme): a pair
    within the budget differs in at most 6 blocks, so at least 2
    blocks — hence at least one 2-block combination — agree exactly
    (pigeonhole). The plan is explode-to-combo-keys -> self-equi-join
    on (combo_idx, packed_val) -> exact Hamming re-check -> dedup.
    Same answer as the all-pairs definition (the oracle SQL keeps
    that form), but the only shuffles are a bucketed equi-join and a
    dedup of the (small) survivor set. 14-bit keys keep bucket
    fan-out ~n/16,384 per combo — the r11 fix for the single-chunk
    8-bit slots that bucketed ~2k docs per cell at sf10 (r10 verdict
    #3); simhash_combo_keys guards the key width (dedup.py).

    AUDIT-CLASS (r10, r9 verdict #1): the PLAN is scale-safe but the
    OUTPUT is O(sum over dup clusters of k^2) raw pair rows — 805,942
    at sf10 with the corpus's ~4x duplication rate, the sweep's
    slowest entry by output volume alone. The production deliverable
    is simhash_dup_summary (per-doc degree/min-distance, O(docs)
    rows); this raw form stays registered for correctness attestation
    and on-demand audits, out of the headline bench."""
    return _simhash_near_dup_pairs_impl(spark, sf_dir)


SIMHASH_DUP_SUMMARY_ORACLE = f"""
WITH tok AS (SELECT doc_id, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th FROM documents),
hsh AS (SELECT doc_id, {dd.shingle_hashes_sql(2)} AS hs FROM tok),
wid AS (SELECT doc_id, {dd.widened_hashes_sql()} AS wh FROM hsh),
sig AS (SELECT doc_id, {dd.simhash_sql()} AS h FROM wid),
pairs AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= {dd.SIMHASH_HAMMING_BUDGET}
),
sym AS (
    SELECT d1 AS doc_id, hamming FROM pairs
    UNION ALL
    SELECT d2 AS doc_id, hamming FROM pairs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_near_dups,
       CAST(min(hamming) AS INT) AS min_hamming
FROM sym
GROUP BY doc_id
"""


@register("simhash_dup_summary", SIMHASH_DUP_SUMMARY_ORACLE)
def simhash_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document near-dup verdict — the bounded deliverable a
    curation run actually consumes, replacing the raw O(dup-cluster
    k^2) pair dump of simhash_near_dups: for every document with at
    least one SimHash near-dup (Hamming <= 6), its near-dup degree and
    closest distance. A dup cluster of size k contributes k rows here
    vs k(k-1)/2 pair rows.

    Two-level plan (``dd.two_level_summary``, exact): the group key is
    the 8-byte sketch, so identical sketches form a clique at Hamming
    0 and the combo-key join (see simhash_near_dups) runs between
    distinct sketches only. The Hamming re-check runs inside the join
    and the dedup after it: a pair agreeing on k combos surfaces k
    times, but only the small filtered set is deduplicated."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sketch = (
        docs.selectExpr("doc_id", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", dd.spark_shingle_hashes_expr(2) + " AS hs")
        .selectExpr("doc_id", dd.spark_widened_hashes_expr() + " AS wh")
        .selectExpr("doc_id", dd.spark_simhash_expr() + " AS h")
    )

    def rep_pairs(grp: DataFrame) -> DataFrame:
        keys = grp.select(
            "rep", "h", "g", F.explode(dd.simhash_combo_keys(F.col("h"))).alias("k")
        ).select("rep", "h", "g", F.col("k.ki").alias("ki"), F.col("k.kv").alias("kv"))
        a = keys.select(
            F.col("rep").alias("r1"), F.col("h").alias("h1"), F.col("g").alias("g1"), "ki", "kv"
        )
        b = keys.select(
            F.col("rep").alias("r2"), F.col("h").alias("h2"), F.col("g").alias("g2"), "ki", "kv"
        )
        ham = dd.hamming64(F.col("h1"), F.col("h2"))
        return (
            a.join(b, ["ki", "kv"])
            .where((F.col("r1") < F.col("r2")) & (ham <= dd.SIMHASH_HAMMING_BUDGET))
            .select("r1", "r2", "g1", "g2", ham.cast("int").alias("score"))
            .dropDuplicates(["r1", "r2"])
        )

    return dd.two_level_summary(
        sketch, ["h"], rep_pairs, 0, F.min, ("n_near_dups", "min_hamming")
    )


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------

_E_NORM = sim.NORM_SQL.format(a="v")


def _embedding_topk_pairs_oracle(vec_filter: str | None = None) -> str:
    src = f"embeddings WHERE {vec_filter}" if vec_filter else "embeddings"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}),
en AS (SELECT vec_id, v, {_E_NORM} AS n FROM e),
pairs AS (
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           {sim.DOT_SQL.format(a="a.v", b="b.v")} / (a.n * b.n) AS c
    FROM en a JOIN en b ON a.vec_id < b.vec_id
)
SELECT id1, id2, round(c, 6) AS cos_sim
FROM pairs
ORDER BY round(c, 6) DESC, id1, id2
LIMIT 20
"""


EMBEDDING_TOPK_PAIRS_ORACLE = _embedding_topk_pairs_oracle()


EMBEDDING_PAIR_BLOCKS = 16

# Deterministic vec hash-sample gating the DEFAULT exact all-pairs
# query — same recipe and rationale as the ngram gate above: exact
# all-pairs compute is O(n²) by definition, so the ungated form
# (15.6 s standalone at sf1, trending quadratically) lives behind the
# audit_ prefix and the default runs on a rate-capped (35%) budgeted
# (~1000-vec) sample whose cost is constant in corpus size. Every
# reported cosine is exact.
EMBEDDING_EXACT_SAMPLE_MOD = 1000
EMBEDDING_EXACT_MAX_MILLE = 350
EMBEDDING_EXACT_TARGET_VECS = 1000

_EMBEDDING_MIX = dd.mix_mod_sql(
    "vec_id", dd.SAMPLE_A, dd.SAMPLE_B, dd.SAMPLE_C, EMBEDDING_EXACT_SAMPLE_MOD
)


def _embedding_topk_pairs(
    spark: SparkSession, sf_dir: str, vec_filter: str | None = None
) -> DataFrame:
    """Shared core of the gated and audit exact-pair queries.

    Exact all-pairs is intrinsically O(n²) compute, but neither the
    plan nor the inner loop needs to be slow: vectors are hashed into
    B blocks and each of the B(B+1)/2 unordered block pairs becomes
    one cogroup key, where the block × block cosine matrix is a single
    numpy matmul (see sim.block_pair_topk for the full scale
    rationale). Measured ~2.5× faster at sf0.1 than the previous
    codegen'd fold-dot equi-join — dense linear algebra is the one hot
    path where an Arrow-batched kernel beats built-in expressions,
    because HOF folds evaluate per element while BLAS runs the whole
    block square vectorized. For sublinear candidate generation
    (approximate), see ann_lsh_topk."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    if vec_filter:
        emb = emb.where(F.expr(vec_filter))
    nb = EMBEDDING_PAIR_BLOCKS
    en = emb.select("vec_id", sim.to_double("embedding").alias("v")).withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int")
    )
    return (
        sim.block_pair_topk(en, n_blocks=nb, k=20)
        .orderBy(F.round(F.col("c"), 6).desc(), "id1", "id2")
        .limit(20)
        .select("id1", "id2", F.round("c", 6).alias("cos_sim"))
    )


_EMBEDDING_VEC_FILTER_SQL = _EMBEDDING_MIX + " < " + _budget_keep_mille_sql(
    "embeddings", EMBEDDING_EXACT_TARGET_VECS, EMBEDDING_EXACT_MAX_MILLE
)


@register(
    "embedding_topk_pairs", _embedding_topk_pairs_oracle(_EMBEDDING_VEC_FILTER_SQL)
)
def embedding_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup scan: exact top-20 most-similar pairs
    within a deterministic vec hash-sample (identical pmod mix in
    Spark and the oracle; 35% capped at a ~1000-vec budget, so cost is
    CONSTANT in corpus size — see _budget_keep_mille). SAMPLE-GATED BY
    DEFAULT because exact all-pairs compute is O(n²) in corpus size —
    unbounded at scale no matter how good the plan. Every reported
    cosine is exact; only the pair population is restricted to
    sampled-vector pairs — the right default for the near-dup-RATE
    estimate this scan feeds. The ungated audit-truth form is
    audit_embedding_topk_pairs (registry-only, excluded from the
    headline bench); the production paths for full-corpus similarity
    are the ANN family (ann_lsh_topk, ann_ivf_topk, pq_ann_topk)."""
    n = _t(spark, sf_dir, "embeddings").count()  # metadata-scale
    keep = _budget_keep_mille(
        n, EMBEDDING_EXACT_TARGET_VECS, EMBEDDING_EXACT_MAX_MILLE
    )
    return _embedding_topk_pairs(spark, sf_dir, f"{_EMBEDDING_MIX} < {keep}")


@register("audit_embedding_topk_pairs", EMBEDDING_TOPK_PAIRS_ORACLE)
def audit_embedding_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNGATED exact all-pairs audit twin: the full-corpus top-20
    truth consumed by semantic_dedup_crosscheck and held to the same
    brute-force standard the recall audits use (ann_lsh_recall,
    ann_ivf_recall, pq_recall_audit, semantic_dedup_recall).
    O(n²) compute by
    definition — audit runs on bounded sub-corpora only; the gated
    default is embedding_topk_pairs."""
    return _embedding_topk_pairs(spark, sf_dir, None)


ANN_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
en AS (SELECT vec_id, v, {_E_NORM} AS n FROM e),
scored AS (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           {sim.DOT_SQL.format(a="q.v", b="c.v")} / (q.n * c.n) AS cs
    FROM en q JOIN en c ON q.vec_id < 5 AND c.vec_id >= 5
)
SELECT qid, nid, cos_sim
FROM (
    SELECT qid, nid, round(cs, 6) AS cos_sim,
           row_number() OVER (PARTITION BY qid ORDER BY round(cs, 6) DESC, nid) AS rn
    FROM scored
)
WHERE rn <= 10
"""


@register("ann_cosine_topk", ANN_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector (vec_id<5)
    against the corpus (vec_id>=5): the brute-force baseline every ANN
    variant is measured against. Queries broadcast; corpus never
    shuffles; one window shuffle on qid for k-selection."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("nid"), F.col("v").alias("nvec")
    )
    return sim.brute_force_topk(q, c, k=10)


_LSH_PLANES = 4

ANN_LSH_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
en AS (SELECT vec_id, v, {_E_NORM} AS n,
       {sim.hyperplane_sig_sql("v", _LSH_PLANES)} AS bucket FROM e),
q AS (SELECT vec_id AS qid, v AS qv, n AS qn,
             unnest([bucket{"".join(f", xor(bucket, {1 << j})" for j in range(_LSH_PLANES))}]) AS bucket
      FROM en WHERE vec_id < 5),
c AS (SELECT vec_id AS nid, v AS nv, n AS nn, bucket FROM en WHERE vec_id >= 5),
scored AS (
    SELECT qid, nid, {sim.DOT_SQL.format(a="qv", b="nv")} / (qn * nn) AS cs
    FROM c JOIN q USING (bucket)
)
SELECT qid, nid, cos_sim
FROM (SELECT qid, nid, round(cs, 6) AS cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY round(cs, 6) DESC, nid) AS rn
      FROM scored)
WHERE rn <= 10
"""


@register("ann_lsh_topk", ANN_LSH_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (the 100 TB scale
    path): random-hyperplane sign buckets (row-local), candidates only
    within the query's probed buckets, exact re-rank inside.

    Fully oracle-checked, not rows-only: the plane weights are pinned
    integer arithmetic and the projections fold in a fixed order, so
    DuckDB reproduces the buckets — and therefore the exact result
    set — bit for bit (sim.hyperplane_sig_sql). Recall vs the
    brute-force baseline is additionally gated in tests and exposed as
    the ann_lsh_recall query."""
    emb = _t(spark, sf_dir, "embeddings")
    n_planes = _LSH_PLANES
    e = emb.select("vec_id", sim.to_double("embedding").alias("v")).withColumn(
        "bucket", sim.hyperplane_signature(F.col("v"), n_planes=n_planes)
    )
    # Multi-probe: each query also probes the buckets one sign-flip
    # away (hamming<=1), trading 1+n_planes lookups for recall — the
    # standard knob; still an equi-join, never a cross join.
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    )
    q = (
        e.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qvec"),
            F.explode(probes).alias("bucket"),
        )
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("nid"), F.col("v").alias("nvec"), F.col("bucket")
    )
    from pyspark.sql import Window

    scored = c.join(F.broadcast(q), "bucket").select(
        "qid",
        "nid",
        sim.cosine(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.round("cos_sim", 6).desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "nid", F.round("cos_sim", 6).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# Multimodal columns
# --------------------------------------------------------------------------

MULTIMODAL_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS blob_len,
       CAST(ascii(text[1]) AS INT) AS first_byte,
       CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) % 256 AS INT) AS checksum
FROM documents
"""


@register("multimodal_features", MULTIMODAL_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction via Arrow-batched mapInPandas
    (operators/multimodal.py): the real plumbing (binary column,
    batch iterator, typed output schema) with a deterministic
    byte-level stand-in for the codec. The oracle recomputes the same
    bytes from the source text (ASCII corpus => UTF-8 bytes == chars)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return mm.extract_features(mm.attach_blob(docs), "doc_id", "blob")


AUDIO_TRIAGE_ORACLE = """
WITH b AS (
    SELECT doc_id,
           -- empty text must mean ZERO samples: string_split('', '')
           -- is [''] in DuckDB (one pseudo-sample), while the engine's
           -- u8 decode of zero bytes yields an empty waveform
           CASE WHEN len(text) = 0 THEN CAST([] AS DOUBLE[])
                ELSE list_transform(string_split(text, ''),
                                    c -> (CAST(ascii(c) AS DOUBLE) - 128.0) / 128.0)
           END AS x
    FROM documents
)
SELECT doc_id,
       CAST(len(x) AS INT) AS n_samples,
       round(len(x) / 8.0, 3) AS duration_ms,
       CASE WHEN len(x) = 0 THEN 0.0
            ELSE round(sqrt(list_sum(list_transform(x, v -> v * v)) / len(x)), 4)
       END AS rms,
       CASE WHEN len(x) = 0 THEN 0.0
            ELSE round(list_max(list_transform(x, v -> abs(v))), 4)
       END AS peak
FROM b
"""


@register("audio_triage", AUDIO_TRIAGE_ORACLE)
def audio_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-clip triage (duration / RMS level / peak) over Arrow
    batches — the silence/clipping/truncation gate an audio pipeline
    runs before transcription. The decode is REAL numpy DSP
    (operators/multimodal.py::audio_features): RIFF/WAVE 16-bit PCM
    when the blob is WAV, headerless unsigned-8-bit PCM at 8 kHz
    otherwise. The corpus stand-in blobs take the u8 branch, which the
    oracle reproduces exactly from the source text's bytes — making
    the audio path value-checked, not just shape-checked. Row-local:
    zero shuffles."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    feats = mm.audio_features(mm.attach_blob(docs), "doc_id", "blob")
    return feats.select(
        "doc_id",
        "n_samples",
        "duration_ms",
        F.round("rms", 4).alias("rms"),
        F.round("peak", 4).alias("peak"),
    )


BPE_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{tx.BPE_SPLIT_REGEX}')) AS n_pieces,
       len(list_distinct(regexp_extract_all(text, '{tx.BPE_SPLIT_REGEX}'))) AS n_distinct_pieces
FROM documents
"""


@register("bpe_token_stats", BPE_TOKEN_STATS_ORACLE)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs / single
    symbols — the pre-split every BPE tokenizer applies): the cost
    estimator for LLM training-data budgeting. Row-local codegen'd
    regexp on both engines."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    pieces = tx.bpe_ish_tokens("text")
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
    )


_IVF_LISTS = 8
_IVF_NPROBE = 3

_IVF_CENTS = f"""
cents AS (SELECT rn - 1 AS cen, v AS cv
          FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
                FROM en WHERE vec_id >= 5)
          WHERE rn <= {_IVF_LISTS})"""

ANN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
en AS (SELECT vec_id, v, {_E_NORM} AS n FROM e),{_IVF_CENTS},
cor AS (SELECT vec_id AS nid, v AS nv, n AS nn FROM en WHERE vec_id >= 5),
assign AS (SELECT nid, nv, nn, cen AS list_id FROM (
    SELECT nid, nv, nn, cen,
           row_number() OVER (PARTITION BY nid
               ORDER BY {sim.DIST2_SQL.format(a="nv", b="cv")}, cen) AS rn
    FROM cor CROSS JOIN cents) WHERE rn = 1),
qs AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM en WHERE vec_id < 5),
probe AS (SELECT qid, qv, qn, cen AS list_id FROM (
    SELECT qid, qv, qn, cen,
           row_number() OVER (PARTITION BY qid
               ORDER BY {sim.DIST2_SQL.format(a="qv", b="cv")}, cen) AS rn
    FROM qs CROSS JOIN cents) WHERE rn <= {_IVF_NPROBE}),
scored AS (SELECT qid, nid, {sim.DOT_SQL.format(a="qv", b="nv")} / (qn * nn) AS cs
           FROM assign JOIN probe USING (list_id))
SELECT qid, nid, cos_sim
FROM (SELECT qid, nid, round(cs, 6) AS cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY round(cs, 6) DESC, nid) AS rn
      FROM scored)
WHERE rn <= 10
"""


@register("ann_ivf_topk", ANN_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the other scale path next to
    ann_lsh_topk): a coarse quantizer partitions the corpus into
    inverted lists; each query probes its nprobe nearest lists and
    re-ranks exactly inside them. The corpus join is an equi-join on
    list_id — candidate work scales with nprobe/n_lists of the corpus,
    never O(n·q).

    The quantizer is a DETERMINISTIC SAMPLED-CENTROID one: the 8
    lowest-id corpus vectors are the centroids (at 100 TB you train on
    a sample and broadcast centroids anyway — here the sample is
    pinned so DuckDB reproduces assignment, probing, and the result
    exactly, turning a rows-only check into a full oracle row). The
    KMeans-trained quantizer remains available as
    operators.similarity.ivf_assignments, recall-gated in pytest.
    Centroid fetch is a driver-side 8-row collect (like the upsert
    bounds fetch — metadata-scale, not data-scale)."""
    from pyspark.sql import Window

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    corpus = e.where(F.col("vec_id") >= 5)
    cents = corpus.orderBy("vec_id").limit(_IVF_LISTS).select("v").collect()
    if not cents:
        # empty corpus: no centroids to quantize against — an empty
        # F.array() has no element type and fails analysis
        return spark.createDataFrame([], "qid long, nid long, cos_sim double")
    cent_lits = [F.array(*[F.lit(float(x)) for x in row.v]) for row in cents]

    def nearest_lists(vec: F.Column, k: int) -> F.Column:
        pairs = F.array(
            *[
                F.struct(sim.dist2(vec, cent_lits[j]).alias("d"), F.lit(j).alias("list_id"))
                for j in range(len(cent_lits))
            ]
        )
        return F.transform(F.slice(F.array_sort(pairs), 1, k), lambda s: s.list_id)

    c = corpus.select(
        F.col("vec_id").alias("nid"),
        F.col("v").alias("nvec"),
        nearest_lists(F.col("v"), 1)[0].alias("list_id"),
    )
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qvec"),
        F.explode(nearest_lists(F.col("v"), _IVF_NPROBE)).alias("list_id"),
    )
    scored = c.join(F.broadcast(queries), "list_id").select(
        "qid", "nid", sim.cosine(F.col("qvec"), F.col("nvec")).alias("cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.round("cos_sim", 6).desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("qid", "nid", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _recall_oracle(approx_oracle: str) -> str:
    return f"""
WITH ex AS ({ANN_TOPK_ORACLE}), ap AS ({approx_oracle})
SELECT ex.qid AS qid,
       round(CAST(count(ap.nid) AS DOUBLE) / 10.0, 2) AS recall_at_10
FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
GROUP BY ex.qid
ORDER BY qid
"""


def _recall_at_10(exact: DataFrame, approx: DataFrame) -> DataFrame:
    hit = approx.select("qid", "nid").withColumn("hit", F.lit(1))
    return (
        exact.select("qid", "nid")
        .join(hit, ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0, 2
            ).alias("recall_at_10")
        )
        .orderBy("qid")
    )


@register("ann_lsh_recall", _recall_oracle(ANN_LSH_ORACLE))
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH-bucketed ANN against the exact brute-force
    baseline, per query — the quality gauge a 100 TB deployment tracks
    when tuning planes/probes. Deterministic on both engines, so the
    driver hash-checks ANN quality itself, not just row counts."""
    return _recall_at_10(
        ann_cosine_topk(spark, sf_dir), ann_lsh_topk(spark, sf_dir)
    )


@register("ann_ivf_recall", _recall_oracle(ANN_IVF_ORACLE))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN (sampled-centroid quantizer, nprobe=3
    of 8 lists) against the exact brute-force baseline, per query."""
    return _recall_at_10(
        ann_cosine_topk(spark, sf_dir), ann_ivf_topk(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# Embedding quality audit
# --------------------------------------------------------------------------

_CS = sim.DOT_SQL.format(a="v", b="c") + " / (" + sim.NORM_SQL.format(a="v") + " * " + sim.NORM_SQL.format(a="c") + ")"

EMB_LABEL_AUDIT_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
comp AS (
    SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM e
),
cent AS (
    SELECT label, pos, round(avg(x), 6) AS m FROM comp GROUP BY label, pos
),
ca AS (SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label),
cs AS (
    SELECT e.label, {_CS} AS cos FROM e JOIN ca USING (label)
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(cos), 4) AS avg_cos_to_centroid,
       round(min(cos), 6) AS min_cos,
       round(max(cos), 6) AS max_cos
FROM cs GROUP BY label ORDER BY label
"""


@register("embedding_label_audit", EMB_LABEL_AUDIT_ORACLE)
def embedding_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label cohesion audit: per-label centroid (mean
    vector, components rounded to 6 so both engines share the exact
    same literal centroid) and the distribution of member-to-centroid
    cosines — the first diagnostic a curation pipeline runs on a new
    embedding model (low min-cos = mislabeled or outlier members;
    low avg-cos = the label isn't a cluster).

    Scale shape: the centroid is posexplode -> (label, pos) avg — the
    explode inflates rows x dim but partial-aggregates map-side down
    to labels x dim rows before the one shuffle; centroid arrays
    (labels x dim doubles, metadata-scale) broadcast back and the
    cosine is a row-local fold. No driver-side data, nothing
    quadratic, exactly the IVF coarse-quantizer shape."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", sim.to_double("embedding").alias("v")
    )
    comp = emb.select("label", F.posexplode("v").alias("pos", "x"))
    cent = comp.groupBy("label", "pos").agg(F.round(F.avg("x"), 6).alias("m"))
    ca = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    cos = sim.cosine(F.col("v"), F.col("c"))
    return (
        emb.join(F.broadcast(ca), "label")
        .select("label", cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------

TOKENIZER_FERTILITY_ORACLE = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(len(regexp_extract_all(text, '{tx.BPE_SPLIT_REGEX}')) AS BIGINT)) AS DOUBLE)
             / sum(CAST(len(string_split(text, ' ')) AS BIGINT)), 4) AS pieces_per_word,
       round(CAST(sum(CAST(len(text) AS BIGINT)) AS DOUBLE)
             / sum(CAST(len(regexp_extract_all(text, '{tx.BPE_SPLIT_REGEX}')) AS BIGINT)), 4)
           AS chars_per_piece
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("tokenizer_fertility", TOKENIZER_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish pieces per whitespace
    word and characters per piece, the standard diagnostic for how
    expensive each language is to tokenize (high fertility = the token
    budget buys less text; drives per-language sampling weights next
    to source_mixing_weights).

    Shape: all three counts are row-local array lengths folded into
    ONE partial+final aggregation on the ~5-value lang key — no
    explode, no join, no second scan. At 100 TB this is a single
    map-side-combined pass over documents."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    pieces = F.size(tx.bpe_ish_tokens(F.col("text"))).cast("bigint")
    words = F.size(F.split(F.col("text"), " ")).cast("bigint")
    chars = F.length("text").cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(pieces).cast("double") / F.sum(words), 4
            ).alias("pieces_per_word"),
            F.round(
                F.sum(chars).cast("double") / F.sum(pieces), 4
            ).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization audit
# --------------------------------------------------------------------------

QUANT_COS_ERR_MAX = 0.01

_QCOS = (
    sim.DOT_SQL.format(a="v", b="dq")
    + " / (" + sim.NORM_SQL.format(a="v") + " * " + sim.NORM_SQL.format(a="dq") + ")"
)

INT8_QUANT_AUDIT_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
q AS (
    SELECT vec_id, label, v,
           greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127 AS sc,
           list_transform(v, x ->
               greatest(-127.0, least(127.0,
                   floor(x / (greatest(list_max(list_transform(v, y -> abs(y))), 1e-12) / 127) + 0.5)))
               * (greatest(list_max(list_transform(v, y -> abs(y))), 1e-12) / 127)) AS dq
    FROM e
),
err AS (SELECT label, 1.0 - ({_QCOS}) AS ce FROM q)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(ce), 6) AS avg_cos_err,
       round(max(ce), 6) AS max_cos_err,
       max(ce) < {QUANT_COS_ERR_MAX} AS all_within_tolerance
FROM err GROUP BY label ORDER BY label
"""


@register("int8_quant_audit", INT8_QUANT_AUDIT_ORACLE)
def int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization audit: symmetric per-vector int8
    compression (scale = max|x|/127, 4x smaller than float32) scored
    by the cosine error it introduces, per label — the go/no-go check
    before a pipeline stores quantized vectors for its ANN index.
    Embedding storage dominates multimodal lake footprints; this is
    the query that justifies (or vetoes) the 4x cut.

    Determinism: rounding is pinned as ``floor(x/scale + 0.5)`` on
    BOTH engines (identical IEEE ops; half-up vs banker's conventions
    never enter), the fold-based dot/norm sums run in array order on
    both sides, and the verdict column compares against a literal
    threshold far from the observed error scale.

    Shape: everything before the (label) aggregation is row-local
    array math — no explode, no join, one partial-aggregated shuffle
    on the label domain."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", sim.to_double("embedding").alias("v")
    )
    scale = (
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-12)
        )
        / 127
    )
    q = emb.withColumn("sc", scale).withColumn(
        "dq",
        F.transform(
            "v",
            lambda x: F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x / F.col("sc") + 0.5)),
            )
            * F.col("sc"),
        ),
    )
    ce = 1.0 - sim.cosine(F.col("v"), F.col("dq"))
    return (
        q.select("label", ce.alias("ce"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("ce"), 6).alias("avg_cos_err"),
            F.round(F.max("ce"), 6).alias("max_cos_err"),
            (F.max("ce") < QUANT_COS_ERR_MAX).alias("all_within_tolerance"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Dimension-truncation trade study (matryoshka-style retrieval)
# --------------------------------------------------------------------------

ANN_TRUNC_DIM = 16

_E_NORM_T = sim.NORM_SQL.format(a="vt")

ANN_TRUNC_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v[1:{ANN_TRUNC_DIM}] AS vt FROM e),
en AS (SELECT vec_id, vt, {_E_NORM_T} AS n FROM s),
scored AS (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           {sim.DOT_SQL.format(a="q.vt", b="c.vt")} / (q.n * c.n) AS cs
    FROM en q JOIN en c ON q.vec_id < 5 AND c.vec_id >= 5
)
SELECT qid, nid, cos_sim
FROM (
    SELECT qid, nid, round(cs, 6) AS cos_sim,
           row_number() OVER (PARTITION BY qid ORDER BY round(cs, 6) DESC, nid) AS rn
    FROM scored
)
WHERE rn <= 10
"""


@register("ann_truncated_topk", ANN_TRUNC_ORACLE)
def ann_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors using only the FIRST 16 of 64
    dimensions — the matryoshka-style trade every embedding deployment
    now evaluates: a 4x cheaper prefix search whose quality is gauged
    by ann_truncation_recall. Same broadcast-queries shape as the
    exact baseline; the unrolled 16-term dot beats the array fold at
    this width (see operators/similarity.dot)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("nid"), F.col("v").alias("nvec")
    )
    return sim.brute_force_topk(q, c, k=10, dim=ANN_TRUNC_DIM)


@register("ann_truncation_recall", _recall_oracle(ANN_TRUNC_ORACLE))
def ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 16-dim prefix search against the full 64-dim
    exact baseline, per query — quantifies what the 4x compute/storage
    saving costs in retrieval quality (the truncation twin of
    int8_quant_audit, which measures VALUE error; this measures SET
    error). Both sides are deterministic, so the driver hash-checks
    the quality number itself."""
    return _recall_at_10(
        ann_cosine_topk(spark, sf_dir), ann_truncated_topk(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# Regex containment rollup (portable pattern subset)
# --------------------------------------------------------------------------

# word-boundary alternation — the regex subset whose semantics agree
# between Java regex (Spark rlike) and RE2 (DuckDB regexp_matches):
# character classes, \b anchors, alternation; no backrefs/lookaround.
REGEX_SIGNAL = r"\b(spark|query|scan)\b"

REGEX_SIGNAL_ORACLE = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE regexp_matches(text, '{REGEX_SIGNAL}')) AS BIGINT)
           AS n_matching,
       round(CAST(count(*) FILTER (WHERE regexp_matches(text, '{REGEX_SIGNAL}')) AS DOUBLE)
             / count(*), 4) AS match_rate
FROM documents
GROUP BY source
ORDER BY source
"""


@register("regex_signal_rollup", REGEX_SIGNAL_ORACLE)
def regex_signal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex containment profiling per source: the filter shape of
    keyword/PII/boilerplate scans (the reference has no regex surface
    at all — this is the scalar-library extension its users reach for
    first). ``rlike`` stays in codegen (Java regex compiled once per
    task); the pattern is restricted to the Java/RE2-agreeing subset
    so the oracle is equivalence, not coincidence. One partial-
    aggregated shuffle on the small source domain; at 100 TB the
    same plan, with the regex pre-compiled per executor."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    hit = F.col("text").rlike(REGEX_SIGNAL)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(hit).cast("bigint").alias("n_matching"),
            F.round(F.count_if(hit).cast("double") / F.count(F.lit(1)), 4).alias(
                "match_rate"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Embedding covariance via quantized Gram (distributed X^T X)
# --------------------------------------------------------------------------

COV_SCALE = 1000
COV_TOPK = 20

EMB_COV_ORACLE = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT)) AS v
    FROM embeddings
),
e1 AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM q),
g AS (
    SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sij
    FROM e1 a JOIN e1 b USING (vec_id)
    WHERE a.i < b.i
    GROUP BY 1, 2
),
s AS (SELECT i, sum(x) AS si FROM e1 GROUP BY 1),
n AS (SELECT count(*) AS n FROM q)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, cov
FROM (
    SELECT g.i, g.j,
           round((CAST(sij AS DOUBLE) - CAST(sa.si AS DOUBLE) * sb.si / n.n)
                 / n.n / {COV_SCALE * COV_SCALE}.0, 6) AS cov
    FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i CROSS JOIN n
)
ORDER BY abs(cov) DESC, i, j
LIMIT {COV_TOPK}
"""


@register("embedding_covariance_topk", EMB_COV_ORACLE)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 off-diagonal covariance entries of the embedding
    distribution by magnitude — the correlated-dimension report that
    drives whitening / dimensionality decisions, built on the
    distributed X^T X (operators/similarity.py::quantized_gram).

    Exactness: quantized integer Gram + column sums mean both engines
    derive cov from IDENTICAL integers; the final (sij - si*sj/n)/n
    float expression is the same op sequence on both sides, so the
    top-k ordering can't flicker. The oracle's row-exploded self-join
    is the semantic spec; the Spark plan is a per-partition BLAS
    matmul + one O(partitions * d^2) shuffle — no explode, no
    row-pair join (plan-tested: no quadratic join).

    Companion: operators/similarity.py::power_iteration_top_eigen
    consumes the same collected Gram for the PCA eigenpair
    (driver-side on the d x d summary — pytest-verified against
    numpy.linalg.eigh; not SQL-expressible)."""
    from ..operators.similarity import quantized_gram

    emb = _t(spark, sf_dir, "embeddings")
    gram = quantized_gram(emb, "embedding", COV_SCALE)
    qsum = (
        emb.select(
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * COV_SCALE).cast("long"),
                )
            ).alias("i0", "x")
        )
        .groupBy((F.col("i0") + 1).cast("int").alias("i"))
        .agg(F.sum("x").alias("si"))
    )
    n = emb.count()  # one scalar; metadata-scale
    sa = qsum.select(F.col("i"), F.col("si").alias("si1"))
    sb = qsum.select(F.col("i").alias("j"), F.col("si").alias("si2"))
    cov = (
        F.col("s").cast("double")
        - F.col("si1").cast("double") * F.col("si2") / F.lit(n)
    ) / F.lit(n) / F.lit(float(COV_SCALE * COV_SCALE))
    return (
        gram.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select("i", "j", F.round(cov, 6).alias("cov"))
        .orderBy(F.abs(F.col("cov")).desc(), "i", "j")
        .limit(COV_TOPK)
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (ADC via reconstruction) + recall audit
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUBDIM = 16  # dims per subspace (embeddings are 64-dim)
_PQ_K = 8  # codes per sub-codebook

_PQ_CB = f"""
cb AS (SELECT rn - 1 AS j, v AS cv
       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
             FROM e WHERE vec_id >= 5)
       WHERE rn <= {_PQ_K})"""


def _pq_assign_ctes() -> str:
    ctes = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUBDIM + 1, (m + 1) * _PQ_SUBDIM
        d2 = sim.DIST2_SQL.format(a=f"nv[{lo}:{hi}]", b=f"cv[{lo}:{hi}]")
        ctes.append(
            f"""a{m} AS (SELECT nid, cv AS c{m} FROM (
    SELECT nid, cv, row_number() OVER (PARTITION BY nid ORDER BY {d2}, j) AS rn
    FROM cor CROSS JOIN cb) WHERE rn = 1)"""
        )
    return ",\n".join(ctes)


_PQ_RECON_CONCAT = " || ".join(
    f"a{m}.c{m}[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}]" for m in range(_PQ_M)
)
_PQ_RECON_JOINS = " ".join(f"JOIN a{m} USING (nid)" for m in range(1, _PQ_M))

PQ_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_PQ_CB},
cor AS (SELECT vec_id AS nid, v AS nv FROM e WHERE vec_id >= 5),
{_pq_assign_ctes()},
recon AS (SELECT a0.nid, {_PQ_RECON_CONCAT} AS rv FROM a0 {_PQ_RECON_JOINS}),
rn_ AS (SELECT nid, rv, {sim.NORM_SQL.format(a="rv")} AS rnm FROM recon),
qs AS (SELECT vec_id AS qid, v AS qv, {sim.NORM_SQL.format(a="v")} AS qn
       FROM e WHERE vec_id < 5),
scored AS (SELECT qid, nid,
                  {sim.DOT_SQL.format(a="qv", b="rv")} / (qn * rnm) AS cs
           FROM rn_ CROSS JOIN qs)
SELECT qid, nid, cos_sim
FROM (SELECT qid, nid, round(cs, 6) AS cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY round(cs, 6) DESC, nid) AS rn
      FROM scored)
WHERE rn <= 10
"""


@register("pq_ann_topk", PQ_ANN_ORACLE)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the memory-compression scale path
    next to ann_lsh_topk (sublinear candidates) and ann_ivf_topk
    (partition pruning): each 64-dim corpus vector is encoded as M=4
    sub-codes (one per 16-dim subspace, nearest of K=8 sub-centroids),
    so the corpus shrinks from 64 doubles to 4 small codes per vector
    — the 8-32x RAM/bandwidth compression that makes billion-vector
    serving fit a cluster. Queries score against the RECONSTRUCTED
    vectors (concatenated chosen sub-centroids), which is numerically
    identical to classic asymmetric-distance (ADC) lookup-table
    scoring; production would precompute the M x K dot-product tables
    per query, an arithmetic rearrangement of the same sum.

    The codebook is the deterministic sampled one (sub-vectors of the
    8 lowest-id corpus vectors — the same pinned-sample trick as
    ann_ivf_topk) so DuckDB replays encoding and scoring exactly and
    the driver hash-checks the whole PQ path. Sub-centroid argmins
    tie-break on code index in both engines.

    Scale shape: codebook is M*K*16 doubles (driver/broadcast
    metadata); encoding is row-local fold arithmetic; scoring is the
    broadcast-queries brute-force shape (corpus never shuffles, one
    window shuffle on qid for k-selection). pq_recall_audit tracks the
    quality cost."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    corpus = e.where(F.col("vec_id") >= 5)
    cents = corpus.orderBy("vec_id").limit(_PQ_K).select("v").collect()
    if not cents:
        return spark.createDataFrame([], "qid long, nid long, cos_sim double")

    # codebook literal sub-vectors: sub[m][j] = centroid j's m-th slice
    sub = [
        [
            F.array(
                *[
                    F.lit(float(x))
                    for x in row.v[m * _PQ_SUBDIM : (m + 1) * _PQ_SUBDIM]
                ]
            )
            for row in cents
        ]
        for m in range(_PQ_M)
    ]

    def recon_subspace(m: int) -> F.Column:
        s = F.slice(F.col("v"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
        pairs = F.array(
            *[
                F.struct(sim.dist2(s, sub[m][j]).alias("d"), F.lit(j).alias("j"))
                for j in range(len(cents))
            ]
        )
        code = F.array_sort(pairs)[0]["j"]
        return F.element_at(F.array(*sub[m]), code + 1)

    recon = F.concat(*[recon_subspace(m) for m in range(_PQ_M)])
    c = corpus.select(F.col("vec_id").alias("nid"), recon.alias("nvec"))
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    return sim.brute_force_topk(q, c, k=10)


@register("pq_recall_audit", _recall_oracle(PQ_ANN_ORACLE))
def pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the product-quantization ANN against the exact
    brute-force baseline, per query — the compression-vs-quality curve
    point a deployment tunes (M, K) against, completing the audit set
    next to ann_lsh_recall / ann_ivf_recall / ann_truncation_recall."""
    return _recall_at_10(
        ann_cosine_topk(spark, sf_dir), pq_ann_topk(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood near-dup detection
# --------------------------------------------------------------------------

SNM_WINDOW = 4  # compare each doc to its 3 successors in sort order

SNM_ORACLE = f"""
WITH tok AS (SELECT doc_id, text, {dd.TOKEN_HASHES_SQL.format(text="text")} AS th
             FROM documents),
sh AS (SELECT doc_id, text, {dd.shingle_hashes_sql(2)} AS s FROM tok),
f AS (SELECT doc_id, text, s FROM sh WHERE len(s) > 0),
r AS (SELECT doc_id, s, row_number() OVER (ORDER BY text, doc_id) AS rn FROM f),
cand AS (SELECT a.doc_id AS da, b.doc_id AS db, a.s AS sa, b.s AS sb
         FROM r a JOIN r b ON b.rn >= a.rn + 1 AND b.rn <= a.rn + {SNM_WINDOW - 1}),
j AS (SELECT least(da, db) AS d1, greatest(da, db) AS d2,
             CAST(len(list_intersect(sa, sb)) AS DOUBLE)
             / len(list_distinct(sa || sb)) AS jac
      FROM cand)
SELECT d1, d2, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.3 ORDER BY d1, d2
"""


@register("sorted_neighborhood_pairs", SNM_ORACLE)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernandez & Stolfo's
    merge/purge method) — the third blocking strategy in the dedup
    family next to inverted-index (ngram_jaccard_pairs) and sketch
    banding (minhash_lsh_pairs): sort the corpus by a blocking key
    (here the document text itself, so shared prefixes become
    adjacent), then compare each document only to the W-1=3 that
    follow it in sort order. Candidate count is W*n — LINEAR in the
    corpus, the lowest of the three strategies — at the cost of
    missing near-dups whose edits fall early in the text; production
    runs multiple passes with different keys.

    Scale shape: the global sort uses windows.global_rank (parallel
    range exchange + per-partition ranks + broadcast prefix offsets —
    no single-partition window), neighbor candidates come from an
    offset explode + rank EQUI-join (never a range join / nested
    loop), and the Jaccard re-check is a row-local array intersect on
    the already-distinct shingle-hash sets. The pair-scale result is
    materialized eagerly so the range-exchange cache releases, like
    value_deciles."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # the shingle set is non-empty iff the doc has >= 2 tokens; filter
    # on THAT (a cheap split) rather than size(hs) > 0 — the hs
    # predicate gets pushed below the spread exchange and evaluates
    # the whole double fold on the single-partition scan side
    # (measured 27 s single-core at sf0.1 vs ~1 s spread)
    sh = (
        docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
        .selectExpr("doc_id", "text", dd.spark_token_hashes_expr() + " AS th")
        .selectExpr("doc_id", "text", dd.spark_shingle_hashes_expr(2) + " AS hs")
    )
    ranked, _total, release = win.global_rank(sh, ["text", "doc_id"], rank_col="rn")
    left = ranked.select("doc_id", "hs", "rn")
    probe = left.select(
        F.col("doc_id").alias("da"),
        F.col("hs").alias("sa"),
        F.col("rn"),
        F.explode(F.array(*[F.lit(k) for k in range(1, SNM_WINDOW)])).alias("k"),
    ).select("da", "sa", (F.col("rn") + F.col("k")).alias("rn_match"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = F.size(F.array_union(F.col("sa"), F.col("sb")))
    jac = inter / union
    pairs = (
        probe.join(
            left.select(
                F.col("doc_id").alias("db"),
                F.col("hs").alias("sb"),
                F.col("rn").alias("rn_match"),
            ),
            "rn_match",
        )
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            jac.alias("jac"),
        )
        .where(F.col("jac") >= 0.3)
        .select("d1", "d2", F.round("jac", 4).alias("jaccard"))
        .orderBy("d1", "d2")
    )
    try:
        rows = pairs.collect()
    finally:
        release()
    return spark.createDataFrame(rows, pairs.schema).orderBy("d1", "d2")


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster embeddings, dedup within cells
# --------------------------------------------------------------------------

SEMDEDUP_TAU = 0.35
_SEMDEDUP_MIN_CELLS = 8
_SEMDEDUP_CELL_TARGET = 250  # target vectors per cell: k = max(8, ceil(n/250))
# Composite cell id = ccen * 2^20 + fcen: fine indices are bounded by
# the per-cell membership (<= cell size), far under 2^20 at any k.
_SEMDEDUP_CELL_SHIFT = 1 << 20

# Coarse codebook size: ceil(sqrt(k_total)) — the two-level split that
# keeps BOTH levels O(sqrt k): the coarse codebook (the only structure
# collected to the driver / broadcast) and the per-cell fine fan-out.
_SEMDEDUP_KC = (
    f"(SELECT greatest(2, CAST(ceil(sqrt(greatest({_SEMDEDUP_MIN_CELLS}, "
    f"ceil(count(*) / {_SEMDEDUP_CELL_TARGET}.0)))) AS BIGINT)) FROM e)"
)

# Hierarchical quantizer, oracle form (replayed by DuckDB bit-exactly):
#   cc      — coarse centroids: the KC lowest-vec_id vectors
#   cassign — nearest coarse centroid (dist2 fold, ties -> lowest ccen)
#   fc      — fine centroids: within each coarse cell, the
#             ceil(cell_n/250) lowest-vec_id members, indexed 0..m-1
#   assign  — nearest fine centroid WITHIN the row's coarse cell
#             (dist2 fold, ties -> lowest fcen); cell id is the
#             (ccen, fcen) composite
_SEMDEDUP_CENTS = f"""
cc AS (SELECT rn - 1 AS ccen, v AS cv
       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
       WHERE rn <= {_SEMDEDUP_KC}),
cassign AS (SELECT vec_id, v, ccen FROM (
    SELECT e.vec_id, e.v, cc.ccen,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {sim.DIST2_SQL.format(a="e.v", b="cc.cv")}, cc.ccen)
               AS rn
    FROM e CROSS JOIN cc) WHERE rn = 1),
fc AS (SELECT ccen, rn - 1 AS fcen, v AS fv FROM (
    SELECT ccen, v,
           row_number() OVER (PARTITION BY ccen ORDER BY vec_id) AS rn,
           count(*) OVER (PARTITION BY ccen) AS cnt
    FROM cassign) WHERE rn <= ceil(cnt / {_SEMDEDUP_CELL_TARGET}.0)),
fassign AS (SELECT vec_id, v, ccen, fcen,
                   CAST(ccen AS BIGINT) * {_SEMDEDUP_CELL_SHIFT} + fcen AS cen
            FROM (
    SELECT a.vec_id, a.v, a.ccen, f.fcen,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {sim.DIST2_SQL.format(a="a.v", b="f.fv")}, f.fcen)
               AS rn
    FROM cassign a JOIN fc f ON a.ccen = f.ccen) WHERE rn = 1)"""

SEMDEDUP_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),{_SEMDEDUP_CENTS},
assign AS (SELECT vec_id, v, {sim.NORM_SQL.format(a="v")} AS n, cen
           FROM fassign),
pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM assign a JOIN assign b
            ON a.cen = b.cen AND a.vec_id < b.vec_id
          WHERE {sim.DOT_SQL.format(a="a.v", b="b.v")} / (a.n * b.n)
                >= {SEMDEDUP_TAU}),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(s, t) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.s, e2.b FROM reach r JOIN edges e2 ON r.t = e2.a
)
SELECT x.vec_id,
       CAST(least(x.vec_id, coalesce(min(r.t), x.vec_id)) AS BIGINT) AS cluster
FROM e x LEFT JOIN reach r ON x.vec_id = r.s
GROUP BY x.vec_id
ORDER BY x.vec_id
"""


def _semdedup_sizes(n_vecs: int) -> tuple[int, int]:
    """(k_total, k_coarse) for the hierarchical quantizer: k scales
    linearly with the corpus (the paper's cell-target sizing), the
    coarse codebook — the ONLY structure collected to the driver and
    broadcast — as ceil(sqrt(k)). Mirrored by the oracle's
    _SEMDEDUP_KC scalar subquery (same ceil/sqrt in doubles)."""
    import math

    k = max(_SEMDEDUP_MIN_CELLS, math.ceil(n_vecs / _SEMDEDUP_CELL_TARGET))
    return k, max(2, math.ceil(math.sqrt(k)))


def _semdedup_assign(spark: SparkSession, sf_dir: str):
    """Shared hierarchical-quantizer assignment for the SemDeDup
    family: (vec_id, v, ccen, fcen, cen) with cen the composite
    (ccen, fcen) cell id, or None on an empty embeddings table.
    Exactly the fassign CTE of the oracle — see
    semantic_dedup_clusters for the scale rationale. The coarse
    assignment is scoped-persisted: it feeds both the fine-codebook
    window and the fine-assignment cogroup, and without the cache the
    broadcast-kernel scan would run twice."""
    from pyspark.sql import Window

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    n_vecs = e.count()  # metadata-scale driver scalar, sizes the quantizer
    _, kc = _semdedup_sizes(n_vecs)
    coarse = e.orderBy("vec_id").limit(kc).select("v").collect()
    if not coarse:
        return None

    cassign = scoped_persist(
        sim.assign_nearest_centroid(
            e.select("vec_id", "v"), [row.v for row in coarse], out_col="ccen"
        )
    )
    w = Window.partitionBy("ccen").orderBy("vec_id")
    fine = (
        cassign.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("ccen")))
        .where(F.col("rn") <= F.ceil(F.col("cnt") / F.lit(_SEMDEDUP_CELL_TARGET)))
        .select(
            "ccen",
            (F.col("rn") - 1).cast("int").alias("fcen"),
            F.col("v").alias("fv"),
        )
    )
    # idx_limit: the composite id below packs fcen into 2^20; a coarse
    # cell large enough to mint a fine index at the shift (>= ~2^20 *
    # 250 members — pathological duplicate-vector skew) must fail loud
    # instead of silently colliding composite ids across cells.
    return sim.assign_fine_within_cell(
        cassign, fine, idx_limit=_SEMDEDUP_CELL_SHIFT
    ).withColumn(
        "cen",
        F.col("ccen").cast("bigint") * F.lit(_SEMDEDUP_CELL_SHIFT)
        + F.col("fcen"),
    )


@register("semantic_dedup_clusters", SEMDEDUP_ORACLE)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with a coarse quantizer, then connect vectors
    whose cosine exceeds tau WITHIN each cell and keep one
    representative per connected component — semantic near-dup removal
    that byte- and shingle-level dedup cannot see (paraphrases,
    translations, re-renders). Output: every vector labeled with its
    component (cluster == vec_id means survivor), exactly the
    keep/drop frame dedup_clusters produces on the text side.

    The quantizer is HIERARCHICAL (two-level, r6 verdict item #1):
    the flat form collected and broadcast k = ceil(n/250) centroids —
    linear in the corpus on the driver. Here only the COARSE codebook
    of kc = ceil(sqrt(k)) lowest-id vectors is collected/broadcast
    (O(sqrt k) driver memory); the FINE codebook — within each coarse
    cell, the ceil(cell_n/250) lowest-id members — stays a DISTRIBUTED
    frame and reaches vectors through a cogroup on the coarse cell
    (sim.assign_fine_within_cell), never the driver. Both levels are
    deterministic lowest-id selections (at 100 TB, k-means-on-a-sample
    slots in the same two seats) so DuckDB replays the whole
    assignment bit-exactly: same dist2 dimension-fold, ties to the
    lowest index at each level.

    Scale shape, per the paper's own design: the all-pairs step runs
    INSIDE (coarse, fine) cells only, and total cell count SCALES
    WITH n (k = max(8, ceil(n/250)) overall) so per-cell cost is
    constant as the corpus grows. Coarse assignment is row-local
    against the broadcast O(sqrt k) matrix (Arrow kernel, blocked
    accumulator — zero shuffle, constant plan size); fine assignment
    is ONE cogroup exchange on the coarse cell with per-task work
    |cell| x sqrt(k) through the same blocked kernel; fine-codebook
    construction is one windowed rank over the same exchange key.
    Because the quantizer makes the tau-graph BLOCK-DIAGONAL (no edge
    crosses a cell), pair generation AND connected components fuse
    into one group kernel per cell (sim.cell_components: one numpy
    cosine matrix + union-find, label = min member id) — no iterative
    propagation; the text-side dedup_clusters keeps
    min_label_components because LSH edges there span buckets."""
    assign = _semdedup_assign(spark, sf_dir)
    if assign is None:
        return spark.createDataFrame([], "vec_id long, cluster long")
    labels = sim.cell_components(assign, SEMDEDUP_TAU, cell_col="cen")
    return labels.select(
        "vec_id", F.col("label").cast("bigint").alias("cluster")
    ).orderBy("vec_id")


# Hierarchical quantizer CTEs trained on the ARCHIVE slice only
# (incremental novelty: the quantizer pre-exists with the archive;
# the day's batch is assigned through it, never trains it).
_SEMDEDUP_KC_ARCH = (
    f"(SELECT greatest(2, CAST(ceil(sqrt(greatest({_SEMDEDUP_MIN_CELLS}, "
    f"ceil(count(*) / {_SEMDEDUP_CELL_TARGET}.0)))) AS BIGINT)) FROM arch)"
)

INCREMENTAL_SEMANTIC_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
arch AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
cc AS (SELECT rn - 1 AS ccen, v AS cv
       FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM arch)
       WHERE rn <= {_SEMDEDUP_KC_ARCH}),
cassign AS (SELECT vec_id, v, ccen FROM (
    SELECT e.vec_id, e.v, cc.ccen,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {sim.DIST2_SQL.format(a="e.v", b="cc.cv")}, cc.ccen)
               AS rn
    FROM e CROSS JOIN cc) WHERE rn = 1),
fc AS (SELECT ccen, rn - 1 AS fcen, v AS fv FROM (
    SELECT ccen, v,
           row_number() OVER (PARTITION BY ccen ORDER BY vec_id) AS rn,
           count(*) OVER (PARTITION BY ccen) AS cnt
    FROM cassign WHERE vec_id % 5 <> 0)
    WHERE rn <= ceil(cnt / {_SEMDEDUP_CELL_TARGET}.0)),
fassign AS (SELECT vec_id, v, ccen, fcen,
                   CAST(ccen AS BIGINT) * {_SEMDEDUP_CELL_SHIFT} + fcen AS cen
            FROM (
    SELECT a.vec_id, a.v, a.ccen, f.fcen,
           row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {sim.DIST2_SQL.format(a="a.v", b="f.fv")}, f.fcen)
               AS rn
    FROM cassign a JOIN fc f ON a.ccen = f.ccen) WHERE rn = 1),
sn AS (SELECT vec_id, v, cen, {sim.NORM_SQL.format(a="v")} AS n FROM fassign),
hits AS (SELECT b.vec_id AS vec_id,
                round(max({sim.DOT_SQL.format(a="b.v", b="a.v")} / (b.n * a.n)),
                      4) AS max_cos
         FROM sn b JOIN sn a ON b.cen = a.cen
         WHERE b.vec_id % 5 = 0 AND a.vec_id % 5 <> 0
           AND b.n > 0 AND a.n > 0
         GROUP BY b.vec_id)
SELECT d.vec_id, h.max_cos,
       coalesce(h.max_cos < {SEMDEDUP_TAU}, TRUE) AS is_novel
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) d
LEFT JOIN hits h ON d.vec_id = h.vec_id
ORDER BY d.vec_id
"""


@register("incremental_semantic_novelty", INCREMENTAL_SEMANTIC_ORACLE)
def incremental_semantic_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC novelty — completes the incremental-dedup
    trio (exact shingle: incremental_dedup_novelty*, lexical sketch:
    incremental_minhash_novelty, semantic: this): each incoming
    vector's (vec_id % 5 == 0 batch) maximum cosine to the ARCHIVE
    members of its own quantizer cell, with the SemDeDup tau as the
    novelty verdict — the check a curation pipeline runs before
    admitting a day's embeddings, catching paraphrase-duplicates the
    shingle and sketch paths cannot see.

    Scale shape, batch-bounded like its two siblings: the quantizer
    is TRAINED ON THE ARCHIVE ONLY (in production it pre-exists;
    codebooks are maintained with the archive, the batch never
    retrains them) through the same hierarchical O(sqrt k) split as
    semantic_dedup_clusters — coarse codebook broadcast, fine
    codebook a distributed frame reached by cogroup. Scoring is ONE
    applyInPandas group per cell comparing batch rows against archive
    rows only (sim.cell_cross_max_cos: |batch_cell| x |archive_cell|
    per cell — the archive never self-compares, so daily cost scales
    with the batch); batch rows whose cell holds no archive vector
    pin novel via the final left join. Every coarse cell that attracts
    any row holds >= 1 archive member (each coarse centroid IS an
    archive vector that assigns to its own index, and duplicate-
    centroid ties collapse to the lowest index on both the archive
    and batch sides), so the cogroup's no-fine-centroid guard cannot
    trip. Bit-exactness: dimension-fold distances and cosines at both
    levels, ties to the lowest index, max over bit-identical doubles
    (kernel docstring)."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    arch = e.where(F.col("vec_id") % 5 != 0)
    batch_ids = e.where(F.col("vec_id") % 5 == 0).select("vec_id")
    n_arch = arch.count()  # metadata-scale driver scalar
    _, kc = _semdedup_sizes(n_arch)
    coarse = arch.orderBy("vec_id").limit(kc).select("v").collect()
    if not coarse:
        return batch_ids.select(
            "vec_id",
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(True).alias("is_novel"),
        ).orderBy("vec_id")

    from pyspark.sql import Window

    cassign = scoped_persist(
        sim.assign_nearest_centroid(
            e.select("vec_id", "v"), [row.v for row in coarse], out_col="ccen"
        )
    )
    arch_assign = cassign.where(F.col("vec_id") % 5 != 0)
    w = Window.partitionBy("ccen").orderBy("vec_id")
    fine = (
        arch_assign.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("ccen")))
        .where(F.col("rn") <= F.ceil(F.col("cnt") / F.lit(_SEMDEDUP_CELL_TARGET)))
        .select(
            "ccen",
            (F.col("rn") - 1).cast("int").alias("fcen"),
            F.col("v").alias("fv"),
        )
    )
    fa = sim.assign_fine_within_cell(
        cassign, fine, idx_limit=_SEMDEDUP_CELL_SHIFT
    ).withColumn(
        "cen",
        F.col("ccen").cast("bigint") * F.lit(_SEMDEDUP_CELL_SHIFT)
        + F.col("fcen"),
    )
    hits = sim.cell_cross_max_cos(
        fa.withColumn("is_b", F.col("vec_id") % 5 == 0), "is_b"
    )
    mx = F.round(F.col("max_cos"), 4)
    return (
        batch_ids.join(hits, "vec_id", "left")
        .select(
            "vec_id",
            mx.alias("max_cos"),
            F.coalesce(mx < F.lit(SEMDEDUP_TAU), F.lit(True)).alias("is_novel"),
        )
        .orderBy("vec_id")
    )


N_SEM_INDEX_COMMITS = 3  # simulated daily assignment-append commits


def _build_semantic_archive_index(spark: SparkSession, sf_dir: str, path: str):
    """Materialize the archive side of the semantic-novelty check as
    LakeTables (r8 — the semantic sibling of
    _build_minhash_archive_index): the hierarchical quantizer
    CODEBOOKS (coarse + fine) written once — the production "periodic
    retrain", trained on the archive exactly as
    incremental_semantic_novelty trains them — and the archive
    ASSIGNMENT table maintained INCREMENTALLY: each of
    N_SEM_INDEX_COMMITS simulated daily slices is assigned through the
    frozen codebooks and appended. Assignment is row-local given the
    codebooks, so maintained == recomputed holds exactly
    (tests/test_llm_ops.py pins it)."""
    import os

    from pyspark.sql import Window

    from ..sources.metadata import LakeTable

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    arch = e.where(F.col("vec_id") % 5 != 0)
    n_arch = arch.count()
    coarse_t = LakeTable(spark, os.path.join(path, "coarse"))
    fine_t = LakeTable(spark, os.path.join(path, "fine"))
    assign_t = LakeTable(spark, os.path.join(path, "assign"))
    _, kc = _semdedup_sizes(n_arch)
    coarse = arch.orderBy("vec_id").limit(kc).select("v").collect()
    if not coarse:
        empty_cb = spark.createDataFrame([], "ccen int, v array<double>")
        coarse_t.create(empty_cb)
        fine_t.create(spark.createDataFrame([], "ccen int, fcen int, fv array<double>"))
        assign_t.create(
            spark.createDataFrame(
                [], "vec_id long, v array<double>, ccen int, fcen int, cen bigint"
            )
        )
        return
    cvecs = [row.v for row in coarse]
    coarse_t.create(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(cvecs)], "ccen int, v array<double>"
        )
    )
    arch_cassign = scoped_persist(
        sim.assign_nearest_centroid(arch, cvecs, out_col="ccen")
    )
    w = Window.partitionBy("ccen").orderBy("vec_id")
    fine = (
        arch_cassign.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("ccen")))
        .where(F.col("rn") <= F.ceil(F.col("cnt") / F.lit(_SEMDEDUP_CELL_TARGET)))
        .select(
            "ccen",
            (F.col("rn") - 1).cast("int").alias("fcen"),
            F.col("v").alias("fv"),
        )
    )
    fine_t.create(fine)
    fine_lake = fine_t.read()
    for day in range(N_SEM_INDEX_COMMITS):
        day_assign = sim.assign_fine_within_cell(
            arch_cassign.where(
                F.pmod(F.col("vec_id"), F.lit(N_SEM_INDEX_COMMITS)) == day
            ),
            fine_lake,
            idx_limit=_SEMDEDUP_CELL_SHIFT,
        ).withColumn(
            "cen",
            F.col("ccen").cast("bigint") * F.lit(_SEMDEDUP_CELL_SHIFT)
            + F.col("fcen"),
        )
        # few files per daily commit (see _build_minhash_archive_index
        # — production ingest sizes index files via compaction)
        day_assign = day_assign.coalesce(4)
        if day == 0:
            assign_t.create(day_assign)
        else:
            assign_t.append(day_assign)


@register("incremental_semantic_novelty_indexed", INCREMENTAL_SEMANTIC_ORACLE)
def incremental_semantic_novelty_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """incremental_semantic_novelty with the production premise made
    REAL (r8 — the semantic sibling of
    incremental_minhash_novelty_indexed, completing the index-fed
    story for the whole incremental trio): the archive's quantizer
    codebooks are PRE-EXISTING LakeTables (the periodic retrain) and
    the archive's cell ASSIGNMENTS are a lake table maintained across
    N_SEM_INDEX_COMMITS simulated daily appends — the query recomputes
    nothing archive-side. Only the incoming batch (vec_id % 5 == 0)
    is assigned: coarse via the broadcast O(sqrt k) codebook READ FROM
    THE LAKE (still the only driver-resident structure), fine via one
    cogroup against the lake's distributed fine table; scoring is the
    same per-cell batch x archive kernel, with the archive rows (v +
    cell) streamed from the assignment table. Same oracle as the
    recomputing twin — result equality IS the maintained == recomputed
    attestation. Staged once per process (queries/fixtures.py): bench
    reps 2..N measure the daily cost, rep 1 additionally pays the
    one-time staging — the amortization production gets."""
    import os

    from ..sources.metadata import LakeTable

    from . import fixtures

    path = fixtures.staged_dir(
        "semantic_index",
        sf_dir,
        lambda d: _build_semantic_archive_index(spark, sf_dir, d),
    )
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    batch = e.where(F.col("vec_id") % 5 == 0)
    batch_ids = batch.select("vec_id")
    coarse_rows = (
        LakeTable(spark, os.path.join(path, "coarse"))
        .read()
        .orderBy("ccen")
        .collect()
    )  # O(sqrt k) rows — the quantizer's one driver-resident structure
    if not coarse_rows:
        return batch_ids.select(
            "vec_id",
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(True).alias("is_novel"),
        ).orderBy("vec_id")
    fine_lake = LakeTable(spark, os.path.join(path, "fine")).read()
    arch_assign = LakeTable(spark, os.path.join(path, "assign")).read()
    batch_cassign = sim.assign_nearest_centroid(
        batch, [r.v for r in coarse_rows], out_col="ccen"
    )
    batch_fa = sim.assign_fine_within_cell(
        batch_cassign, fine_lake, idx_limit=_SEMDEDUP_CELL_SHIFT
    ).withColumn(
        "cen",
        F.col("ccen").cast("bigint") * F.lit(_SEMDEDUP_CELL_SHIFT)
        + F.col("fcen"),
    )
    both = batch_fa.withColumn("is_b", F.lit(True)).unionByName(
        arch_assign.withColumn("is_b", F.lit(False))
    )
    hits = sim.cell_cross_max_cos(both, "is_b")
    mx = F.round(F.col("max_cos"), 4)
    return (
        batch_ids.join(hits, "vec_id", "left")
        .select(
            "vec_id",
            mx.alias("max_cos"),
            F.coalesce(mx < F.lit(SEMDEDUP_TAU), F.lit(True)).alias("is_novel"),
        )
        .orderBy("vec_id")
    )


_SEMDEDUP_SAMPLE_FILTER_SQL = _EMBEDDING_MIX + " < " + _budget_keep_mille_sql(
    "embeddings", EMBEDDING_EXACT_TARGET_VECS, EMBEDDING_EXACT_MAX_MILLE
)

SEMDEDUP_RECALL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),{_SEMDEDUP_CENTS},
samp AS (SELECT vec_id, v FROM e WHERE {_SEMDEDUP_SAMPLE_FILTER_SQL}),
sn AS (SELECT vec_id, v, {sim.NORM_SQL.format(a="v")} AS n FROM samp),
exact AS (SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM sn a JOIN sn b ON a.vec_id < b.vec_id
          WHERE {sim.DOT_SQL.format(a="a.v", b="b.v")} / (a.n * b.n)
                >= {SEMDEDUP_TAU}),
assign AS (SELECT f.vec_id AS vec_id, f.cen AS cen
           FROM fassign f JOIN samp s ON f.vec_id = s.vec_id),
j AS (SELECT a1.cen AS c1, a2.cen AS c2
      FROM exact JOIN assign a1 ON exact.d1 = a1.vec_id
                 JOIN assign a2 ON exact.d2 = a2.vec_id)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample,
       CAST(count(*) AS BIGINT) AS exact_pairs,
       CAST(coalesce(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS captured_pairs,
       CASE WHEN count(*) > 0
            THEN round(CAST(coalesce(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END), 0)
                            AS DOUBLE) / count(*), 4)
       END AS recall
FROM j
"""


@register("semantic_dedup_recall", SEMDEDUP_RECALL_ORACLE)
def semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest-measurement audit for semantic_dedup_clusters: the
    cell-bounded design (SemDeDup's own) can only see within-cell
    pairs, so some cross-cell tau-pairs are missed. This measures the
    miss directly — exact tau-pairs among a deterministic hash-sample
    (the embedding_topk_pairs budget recipe: ~1000 vecs, cost constant
    in corpus size) vs the subset whose endpoints share a quantizer
    cell. One row: sample size, exact pair count, captured count,
    recall — the number a data engineer checks before trusting the
    dedup rate, same audit posture as lsh_pr_audit / ann_*_recall /
    pq_recall_audit.

    Scale shape: the exact square runs on the SAMPLE only (one BLAS
    cell via cell_threshold_pairs); assignment reuses the full-corpus
    HIERARCHICAL quantizer (_semdedup_assign — the production path it
    audits: O(sqrt k) broadcast, fine codebook distributed), filtered
    to the sample; the intersection is two broadcast joins of a
    <=sample-sized frame."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", sim.to_double("embedding").alias("v"))
    n_vecs = e.count()  # metadata-scale driver scalar
    keep = _budget_keep_mille(
        n_vecs, EMBEDDING_EXACT_TARGET_VECS, EMBEDDING_EXACT_MAX_MILLE
    )
    fa = _semdedup_assign(spark, sf_dir)
    if fa is None:
        return spark.createDataFrame(
            [(0, 0, 0, None)],
            "n_sample bigint, exact_pairs bigint, captured_pairs bigint, recall double",
        )

    samp = scoped_persist(e.where(F.expr(f"{_EMBEDDING_MIX} < {keep}")))
    n_sample = samp.count()
    exact = sim.cell_threshold_pairs(
        samp.withColumn("cell", F.lit(0)), SEMDEDUP_TAU, cell_col="cell"
    )
    assign = fa.where(F.expr(f"{_EMBEDDING_MIX} < {keep}")).select(
        "vec_id", "cen"
    )
    a1 = assign.select(F.col("vec_id").alias("d1"), F.col("cen").alias("c1"))
    a2 = assign.select(F.col("vec_id").alias("d2"), F.col("cen").alias("c2"))
    j = exact.join(F.broadcast(a1), "d1").join(F.broadcast(a2), "d2")
    captured = F.coalesce(
        F.sum(F.when(F.col("c1") == F.col("c2"), 1).otherwise(0)), F.lit(0)
    ).cast("bigint")
    return (
        j.agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
            captured.alias("captured_pairs"),
        )
        .select(
            F.lit(n_sample).cast("bigint").alias("n_sample"),
            "exact_pairs",
            "captured_pairs",
            F.when(
                F.col("exact_pairs") > 0,
                F.round(
                    F.col("captured_pairs").cast("double") / F.col("exact_pairs"), 4
                ),
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding prototypicality (prototype-distance pruning profile)
# ---------------------------------------------------------------------------

PROTO_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings),
u AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
c AS (SELECT label, list(round(m, 6) ORDER BY i) AS cv
      FROM (SELECT label, i, avg(x) AS m FROM u GROUP BY label, i)
      GROUP BY label),
s AS (SELECT e.label,
             round({sim.DOT_SQL.format(a="e.v", b="c.cv")}
                   / (sqrt({sim.DOT_SQL.format(a="e.v", b="e.v")})
                      * sqrt({sim.DOT_SQL.format(a="c.cv", b="c.cv")})), 6)
                 AS cos
      FROM e JOIN c USING (label)
      WHERE sqrt({sim.DOT_SQL.format(a="e.v", b="e.v")})
            * sqrt({sim.DOT_SQL.format(a="c.cv", b="c.cv")}) > 0)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(cos), 4) AS mean_cos,
       round(min(cos), 4) AS min_cos,
       round(max(cos), 4) AS max_cos,
       round(avg(CASE WHEN cos < 0 THEN 1.0 ELSE 0.0 END), 4) AS prune_frac
FROM s GROUP BY label ORDER BY label
"""


@register("embedding_prototypicality", PROTO_ORACLE)
def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance pruning profile (Sorscher et al. 2022,
    "Beyond neural scaling laws: beating power law scaling via data
    pruning"): each vector's cosine to its own class centroid — the
    SSL-prototypes difficulty score. Easy/redundant examples sit near
    their prototype; hard or mislabeled ones sit far (cos < 0, less
    aligned than orthogonal — the prune candidates this report
    counts). Per label: population, mean/min/max prototypicality, and
    the prune-candidate fraction — what a curator reads to decide
    per-class pruning rates before a training run.

    Scale shape: centroids are one posexplode + (label, dim)
    aggregate — partial-aggregated, |labels|·dim result rows, a
    metadata-scale collect (the bounded k-centroid fetch posture the
    verdict already audits); scoring is the broadcast-map Arrow
    kernel ``sim.cosine_to_keyed_centroid`` — row-local, zero
    shuffle, constant plan size (the dimension-by-dimension float64
    fold matches the oracle's sequential list_reduce bit-for-bit;
    rounding happens Spark-side so the mode is engines-identical).
    The final rollup is one |labels|-row aggregate. Zero-norm rows
    are excluded by the same norm guard on both sides."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    e = emb.where(F.col("embedding").isNotNull()).select(
        "vec_id", sim.to_double("embedding").alias("v"), "label"
    )
    cent_rows = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .collect()
    )
    if not cent_rows:
        return spark.createDataFrame(
            [],
            "label int, n_vecs bigint, mean_cos double, min_cos double, "
            "max_cos double, prune_frac double",
        )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["i"]] = r["m"]
    centroids = {
        # Null labels carry no centroid — the oracle's JOIN
        # USING(label) drops null-label rows, and the kernel maps
        # unknown keys to NULL cosine, so skipping here keeps the
        # two engines' semantics identical (r6 advisory).
        lab: [dims[i] for i in sorted(dims)]
        for lab, dims in by_label.items()
        if lab is not None
    }
    scored = sim.cosine_to_keyed_centroid(
        e, centroids, key_col="label", vec_col="v", out_col="rawcos"
    )
    return (
        scored.where(F.col("rawcos").isNotNull())
        .select("label", F.round("rawcos", 6).alias("cos"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("cos"), 4).alias("mean_cos"),
            F.round(F.min("cos"), 4).alias("min_cos"),
            F.round(F.max("cos"), 4).alias("max_cos"),
            F.round(
                F.avg(F.when(F.col("cos") < 0, F.lit(1.0)).otherwise(F.lit(0.0))),
                4,
            ).alias("prune_frac"),
        )
        .orderBy("label")
    )
