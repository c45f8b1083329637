"""End-to-end training-data curation pipeline — the capstone composition.

A user of the reference runs one workload at a time; a 100 TB training-
data pipeline chains them: quality-filter → exact-dedup → near-dedup →
emit per-document features. ``corpus_clean`` is that chain as ONE
declarative plan, built from the already-verified operators (each
individually oracle-checked), so Catalyst optimizes across stage
boundaries — shared scans are planned once per branch and the whole
pipeline is a single job, not four materialized passes.

Selection semantics (each clause a real curation rule):
- quality ≥ QUALITY_FLOOR (composite heuristic, textstats.quality_score)
- doc is the canonical (min doc_id) copy of its EXACT duplicate group
- doc is the canonical (min doc_id) member of its NEAR-dup cluster
  (banded MinHash-LSH candidates, exact-Jaccard verified — the
  sub-quadratic production path end to end)

Output: (doc_id, quality, n_tokens) for surviving documents.

Scale: every stage is the scale-path variant — no all-pairs anchors in
this plan. The dominant costs are the LSH candidate join and the
iterative cluster loop, both sub-quadratic (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators.dedup import (
    EXACT_DEDUP_SQL,
    NEARDUP_CLUSTERS_SQL,
    exact_dedup,
    neardup_clusters,
)
from simple_map_reduce_ruuner_spark.operators.textstats import (
    QUALITY_SCORE_SQL,
    TOKEN_STATS_SQL,
    quality_score,
    token_stats,
)
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table

QUALITY_FLOOR = 0.5


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality = quality_score(spark, sf_dir)
    exact = exact_dedup(spark, sf_dir)
    clusters = neardup_clusters(spark, sf_dir)
    stats = token_stats(spark, sf_dir)
    return (
        clusters.where(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .join(exact.select(F.col("keep_doc_id").alias("doc_id")), "doc_id")
        .join(quality.where(F.col("quality") >= QUALITY_FLOOR), "doc_id")
        .join(stats.select("doc_id", "n_tokens"), "doc_id")
        .select("doc_id", "quality", "n_tokens")
    )


CORPUS_CLEAN_SQL = f"""
WITH quality AS ({QUALITY_SCORE_SQL.strip()}),
exact AS ({EXACT_DEDUP_SQL.strip()}),
clusters AS ({NEARDUP_CLUSTERS_SQL.strip()}),
stats AS ({TOKEN_STATS_SQL.strip()})
SELECT q.doc_id, q.quality, s.n_tokens
FROM quality q
JOIN clusters c ON c.doc_id = q.doc_id AND c.cluster_id = q.doc_id
JOIN exact e ON e.keep_doc_id = q.doc_id
JOIN stats s ON s.doc_id = q.doc_id
WHERE q.quality >= {QUALITY_FLOOR}
"""


# --------------------------------------------------------------------------
# Deterministic stratified sampling — rebalance over-represented strata
# --------------------------------------------------------------------------

# keep-percentage per language: downsample dominant English, keep the rest
SAMPLE_RATES = {"en": 40, "de": 100, "es": 100, "fr": 100, "zh": 100}
DEFAULT_RATE = 100


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling: keep a document iff
    ``hash(doc_id) mod 100 < rate(lang)``.

    The standard rebalancing step of a training-data pipeline (cap the
    over-represented language/source), built on the portable md5 hash
    instead of ``rand()``: the sample is REPRODUCIBLE across runs,
    engines, and partitionings — which is what makes sampled corpora
    auditable — and therefore has an exact DuckDB oracle. Pure map-side
    filter: no shuffle at any scale, pushdown-friendly.
    """
    from simple_map_reduce_ruuner_spark.functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    rate_map = F.create_map(
        *[F.lit(x) for kv in SAMPLE_RATES.items() for x in kv]
    )
    rate = F.coalesce(rate_map[F.col("lang")], F.lit(DEFAULT_RATE))
    bucket = F.pmod(
        hash60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    return docs.where(bucket < rate).select(
        "doc_id", "lang", "source", bucket.cast("long").alias("sample_bucket")
    )


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in SAMPLE_RATES.items()
    )
    return f"CASE lang {whens} ELSE {DEFAULT_RATE} END"


def _stratified_sample_sql() -> str:
    from simple_map_reduce_ruuner_spark.functions.hashing import hash60_sql

    seed_expr = "'sample:' || doc_id"
    bucket = f"({hash60_sql(seed_expr)}) % 100"
    return f"""
SELECT doc_id, lang, source, CAST({bucket} AS BIGINT) AS sample_bucket
FROM documents
WHERE {bucket} < {_rate_case_sql()}
"""


STRATIFIED_SAMPLE_SQL = _stratified_sample_sql()


# --------------------------------------------------------------------------
# Per-source quality cap — keep only the best K documents of each source
# --------------------------------------------------------------------------

SOURCE_CAP_K = 15


def source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K documents per source by quality (ties broken by doc_id):
    the per-provider budget cap of a curation pipeline. One shuffle on
    source, bounded per-group state (rank ≤ K) — survives any corpus
    size as long as sources are numerous relative to documents-per-
    source (true by construction for crawl data)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = quality_score(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        docs.join(q, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SOURCE_CAP_K)
        .select("source", "doc_id", "quality", F.col("rank").cast("long").alias("rank"))
    )


SOURCE_QUALITY_CAP_SQL = f"""
WITH q AS ({QUALITY_SCORE_SQL.strip()}),
ranked AS (
    SELECT d.source, d.doc_id, q.quality,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY q.quality DESC, d.doc_id ASC) AS rank
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT source, doc_id, quality, rank
FROM ranked WHERE rank <= {SOURCE_CAP_K}
"""


FUNNEL_MIN_CHARS = 100
FUNNEL_LANGS = ("en", "de", "es", "fr")


def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, stage_name, n_docs): survivor counts after each curation
    stage — the funnel report every production pipeline publishes next
    to its output corpus.

    Stages are CUMULATIVE (each includes all prior predicates): total →
    length floor → target languages → quality floor → exact-dedup
    canonical. Near-dedup is deliberately not a stage: the funnel is a
    monitoring query and should stay cheap next to ``corpus_clean``,
    which already runs the full chain.

    Plan: one conditional aggregate over documents ⋈ quality ⋈ dedup
    keepers — the five counts come from a SINGLE pass (sum-of-CASE, the
    same single-pass trick as ``regional_market_share``), then a 1-row
    ``stack`` unpivots to the report shape. No per-stage rescans.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    keepers = exact_dedup(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(1).alias("is_canonical")
    )
    j = docs.join(quality, "doc_id").join(keepers, "doc_id", "left")
    c1 = F.col("n_chars") >= FUNNEL_MIN_CHARS
    c2 = c1 & F.col("lang").isin(*FUNNEL_LANGS)
    c3 = c2 & (F.col("quality") >= QUALITY_FLOOR)
    c4 = c3 & F.col("is_canonical").isNotNull()
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        F.sum(c1.cast("long")).alias("c1"),
        F.sum(c2.cast("long")).alias("c2"),
        F.sum(c3.cast("long")).alias("c3"),
        F.sum(c4.cast("long")).alias("c4"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 0, 'total', c0,"
            " 1, 'min_length', c1,"
            " 2, 'target_lang', c2,"
            " 3, 'quality', c3,"
            " 4, 'exact_unique', c4) AS (stage, stage_name, n_docs)"
        )
    ).select(
        F.col("stage").cast("long").alias("stage"),
        "stage_name",
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def _funnel_langs_sql() -> str:
    return ", ".join(f"'{lang}'" for lang in FUNNEL_LANGS)


FILTER_FUNNEL_SQL = f"""
WITH quality AS ({QUALITY_SCORE_SQL.strip()}),
exact AS ({EXACT_DEDUP_SQL.strip()}),
j AS (
    SELECT d.doc_id, d.lang, d.n_chars, q.quality,
           (e.keep_doc_id IS NOT NULL) AS is_canonical
    FROM documents d
    JOIN quality q USING (doc_id)
    LEFT JOIN exact e ON e.keep_doc_id = d.doc_id
),
agg AS (
    SELECT
        count(*) AS c0,
        sum(CASE WHEN n_chars >= {FUNNEL_MIN_CHARS} THEN 1 ELSE 0 END) AS c1,
        sum(CASE WHEN n_chars >= {FUNNEL_MIN_CHARS}
                  AND lang IN ({_funnel_langs_sql()}) THEN 1 ELSE 0 END) AS c2,
        sum(CASE WHEN n_chars >= {FUNNEL_MIN_CHARS}
                  AND lang IN ({_funnel_langs_sql()})
                  AND quality >= {QUALITY_FLOOR} THEN 1 ELSE 0 END) AS c3,
        sum(CASE WHEN n_chars >= {FUNNEL_MIN_CHARS}
                  AND lang IN ({_funnel_langs_sql()})
                  AND quality >= {QUALITY_FLOOR}
                  AND is_canonical THEN 1 ELSE 0 END) AS c4
    FROM j
)
SELECT CAST(stage AS BIGINT) AS stage, stage_name, CAST(n_docs AS BIGINT) AS n_docs
FROM (
    SELECT 0 AS stage, 'total' AS stage_name, c0 AS n_docs FROM agg
    UNION ALL SELECT 1, 'min_length', c1 FROM agg
    UNION ALL SELECT 2, 'target_lang', c2 FROM agg
    UNION ALL SELECT 3, 'quality', c3 FROM agg
    UNION ALL SELECT 4, 'exact_unique', c4 FROM agg
)
"""


QUERIES: dict[str, Query] = {
    "corpus_clean": Query(
        corpus_clean,
        CORPUS_CLEAN_SQL,
        "full curation pipeline: quality filter + exact & near dedup + stats",
    ),
    "stratified_sample": Query(
        stratified_sample,
        STRATIFIED_SAMPLE_SQL,
        "deterministic per-language downsampling (reproducible, no shuffle)",
    ),
    "source_quality_cap": Query(
        source_quality_cap,
        SOURCE_QUALITY_CAP_SQL,
        "top-K docs per source by quality (per-provider budget cap)",
    ),
    "filter_funnel": Query(
        filter_funnel,
        FILTER_FUNNEL_SQL,
        "per-stage survivor counts of the curation funnel, single pass",
    ),
}
