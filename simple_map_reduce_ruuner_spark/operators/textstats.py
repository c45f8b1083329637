"""Text-analysis operators over the documents table (north-star extension;
absent in the reference, SURVEY.md §2.C).

- token_stats      — token counting: whitespace tokens + a word-regex
                     variant (the "BPE-ish" proxy), char/token length stats.
- lang_id          — n-gram-free heuristic language ID: English stopword
                     ratio (fast, JVM-side; a real pipeline would plug a
                     model UDF here — the operator shape is identical).
- quality_score    — composite document-quality heuristic (length,
                     token-length, stopword signal), the standard cheap
                     pre-filter before expensive LLM-data processing.
- doc_fingerprint  — deterministic rolling polynomial hash (mod 1e9+7)
                     over the normalized text: an order-sensitive content
                     fingerprint (vs simhash's order-insensitive one).

All operators are single-pass projections/aggregations with no shuffle
except final output; at 100 TB they are scan-bound and embarrassingly
parallel. Integer accumulation is exact, so double arithmetic appears
only in final single-step ratios — deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.hashing import hash60
from simple_map_reduce_ruuner_spark.functions.text import explode_tokens, tokens
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, spread_scan

STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)
FP_MOD = 1_000_000_007
FP_MULT = 31


def _tok_col():
    return tokens(F.col("text")).alias("toks")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    t = docs.select("doc_id", F.length("text").alias("n_chars_raw"), _tok_col())
    sum_len = F.aggregate(
        F.transform(F.col("toks"), F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return t.select(
        "doc_id",
        F.col("n_chars_raw").cast("long").alias("n_chars_raw"),
        F.size("toks").cast("long").alias("n_tokens"),
        sum_len.alias("sum_token_chars"),
        F.round(
            F.when(F.size("toks") == 0, F.lit(0.0)).otherwise(
                sum_len / F.size("toks")
            ),
            6,
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = r"""
WITH t AS (
    SELECT doc_id,
           length(text)::BIGINT AS n_chars_raw,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, n_chars_raw,
           len(toks)::BIGINT AS n_tokens,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x)::BIGINT)), 0) AS BIGINT)
               AS sum_token_chars
    FROM t
)
SELECT doc_id, n_chars_raw, n_tokens, sum_token_chars,
       ROUND(CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE sum_token_chars * 1.0 / n_tokens END, 6) AS avg_token_len
FROM s
"""


def _stopword_ratio():
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_sw = F.size(F.filter(F.col("toks"), lambda t: F.array_contains(sw, t)))
    return F.when(F.size("toks") == 0, F.lit(0.0)).otherwise(
        n_sw / F.size("toks")
    )


_SW_LIST_SQL = "(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict 'en' when the English stopword ratio clears a threshold.
    Emits the true lang column too, so accuracy is directly queryable.

    Data note: the driver's synthetic documents use one English-ish
    vocabulary for every `lang` label, so no content-based classifier can
    discriminate on these fixtures — the oracle checks the *operator*
    (ratio computation + thresholding), not model accuracy. On real data
    the stopword table extends per language (or a model UDF slots into
    the same shape)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    t = docs.select("doc_id", "lang", _tok_col())
    ratio = _stopword_ratio()
    return t.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_stopword_ratio"),
        F.when(ratio >= 0.03, F.lit("en")).otherwise(F.lit("other")).alias(
            "pred_lang"
        ),
    )


LANG_ID_SQL = rf"""
WITH t AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
r AS (
    SELECT doc_id, lang,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE len(list_filter(toks, x -> x IN {_SW_LIST_SQL})) * 1.0 / len(toks)
           END AS ratio
    FROM t
)
SELECT doc_id, lang,
       ROUND(ratio, 6) AS en_stopword_ratio,
       CASE WHEN ratio >= 0.03 THEN 'en' ELSE 'other' END AS pred_lang
FROM r
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic in [0,1]:
    0.4·stopword-signal + 0.3·length-signal + 0.3·token-shape-signal."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    t = docs.select("doc_id", _tok_col())
    n = F.size("toks")
    sum_len = F.aggregate(
        F.transform(F.col("toks"), F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sw = _stopword_ratio()
    length_signal = F.least(n / F.lit(200.0), F.lit(1.0))
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(sum_len / n)
    shape_signal = F.lit(1.0) - F.least(
        F.abs(avg_len - F.lit(5.0)) / F.lit(5.0), F.lit(1.0)
    )
    score = F.lit(0.4) * F.least(sw / F.lit(0.05), F.lit(1.0)) + F.lit(
        0.3
    ) * length_signal + F.lit(0.3) * shape_signal
    return t.select("doc_id", F.round(score, 6).alias("quality"))


QUALITY_SCORE_SQL = rf"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
           len(toks) AS n,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x)::BIGINT)), 0) AS BIGINT) AS sum_len,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE len(list_filter(toks, x -> x IN {_SW_LIST_SQL})) * 1.0 / len(toks)
           END AS sw
    FROM t
)
SELECT doc_id,
       ROUND(
           0.4 * least(sw / 0.05, 1.0)
         + 0.3 * least(n / 200.0, 1.0)
         + 0.3 * (1.0 - least(abs(CASE WHEN n = 0 THEN 0.0 ELSE sum_len * 1.0 / n END - 5.0) / 5.0, 1.0)),
       6) AS quality
FROM m
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash fingerprint of the raw text:
    fold (acc*31 + codepoint) mod 1e9+7 over every character."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    fp = F.aggregate(
        F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_MULT + x) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
           (acc, x) -> (acc * {FP_MULT} + x) % {FP_MOD}
       ) AS fingerprint
FROM documents
"""


#: Portable word-level tokenizer pattern (Java regex ≡ RE2): letter runs,
#: digit runs, or single non-space symbols — the shape of BPE pre-tokenizers.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex tokenization vs whitespace tokenization per doc."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    low = F.lower(F.col("text"))
    n_regex = F.size(F.regexp_extract_all(low, F.lit(BPE_RE), 0)).cast("long")
    n_ws = F.size(tokens(F.col("text"))).cast("long")
    return docs.select(
        "doc_id",
        n_regex.alias("n_regex_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(
            F.when(n_ws == 0, F.lit(0.0)).otherwise(n_regex / n_ws), 6
        ).alias("fertility"),
    )


REGEX_TOKEN_STATS_SQL = rf"""
WITH t AS (
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{BPE_RE}'))::BIGINT AS n_regex_tokens,
           len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))::BIGINT AS n_ws_tokens
    FROM documents
)
SELECT doc_id, n_regex_tokens, n_ws_tokens,
       ROUND(CASE WHEN n_ws_tokens = 0 THEN 0.0
                  ELSE n_regex_tokens * 1.0 / n_ws_tokens END, 6) AS fertility
FROM t
"""


def tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token, tf, df_t, tfidf): classic TF-IDF over the corpus,
    entirely JVM-side.

    Term frequency and document frequency are two partial/final
    aggregations over the exploded token table; tf rides the
    hash(doc_id) spread exchange (subset rule), the vocabulary-bounded
    df table broadcasts onto it (planner-chosen), and N (corpus size)
    joins in as a broadcast single-row aggregate, so the fact side is
    never shuffled and the plan has no driver-side scalar collection.
    tfidf = tf * ln(N / df). The corpus is tokenized twice (once per
    aggregate branch) — a r16 single-tokenize rewrite that derived df
    FROM tf over one shared pair-grain exchange measured +0.2 s at
    sf0.1 (the added exchange outweighs the ~0.1 s distributed
    tokenize; ``git show ffa0b7b:OPTIMIZATION_r16.md``), so the two-branch form
    stays. Determinism note: the tiebreak-free raw doubles are emitted
    ROUNDed only at output and nothing ranks on them — rank-crossing
    float hazards (libm ulp differences) can't affect the result set.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    tok = explode_tokens(docs, keep=("doc_id",))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (
        tok.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    )
    # count over the raw scan, not the spread projection: same number,
    # no repartition exchange under the single-row aggregate (r16)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        tf.join(df_t, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df_t",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6
            ).alias("tfidf"),
        )
    )


TFIDF_SCORES_SQL = r"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (
    SELECT token, count(*) AS df_t
    FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df_t,
       ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df_t), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
"""


HASH_DIM = 64  # feature-hashing dimensionality (Weinberger et al. 2009)


def hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing: fixed-width hashed term-frequency vector per doc
    — the text→vector bridge (tokens bucketed by portable hash mod
    HASH_DIM, counts summed per bucket), computed as one wide
    conditional-sum aggregation like simhash (no per-bucket row
    explosion, partial/final map-side combine).

    Output serializes the vector to a comma-joined string plus nnz and
    L2 norm: scalar columns hash across engines; raw array cells crash
    the external comparator (round-1 suspects_orders lesson).
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    tok = explode_tokens(docs, keep=("doc_id",))
    bucketed = tok.select(
        "doc_id", F.pmod(hash60(F.col("token")), F.lit(HASH_DIM)).alias("b")
    ).groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    # Densify via a bucket->count map + one transform over [0, HASH_DIM):
    # identical output to the previous 64-wide-column aggregate, but the
    # plan stays at a handful of expressions — the wide form cost ~1 s of
    # driver-side analysis per call (same finding as dedup.simhash).
    sparse = bucketed.groupBy("doc_id").agg(
        F.map_from_arrays(
            F.collect_list("b"), F.collect_list("cnt")
        ).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(HASH_DIM - 1)),
        # try_element_at: NULL (not ANSI error) on absent buckets
        lambda i: F.coalesce(F.try_element_at(F.col("m"), i), F.lit(0)).cast("long"),
    )
    withv = sparse.select("doc_id", dense.alias("vec"))
    l2 = F.sqrt(
        F.aggregate(
            F.col("vec"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return withv.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("vec"), lambda x: x.cast("string"))
        ).alias("features"),
        F.size(F.filter(F.col("vec"), lambda x: x > 0)).cast("long").alias("nnz"),
        F.round(l2, 6).alias("l2"),
    )


def _hashed_tf_sql() -> str:
    from simple_map_reduce_ruuner_spark.functions.hashing import hash60_sql

    dim_exprs = ", ".join(
        f"coalesce(sum(CASE WHEN b = {i} THEN cnt END), 0)::BIGINT AS d{i}"
        for i in range(HASH_DIM)
    )
    # flat concat_ws, not chained || : 64 nested binary concats exceed
    # DuckDB's 128-deep binder recursion limit
    feat_concat = (
        "concat_ws(','," + ", ".join(f"CAST(d{i} AS VARCHAR)" for i in range(HASH_DIM)) + ")"
    )
    nnz = " + ".join(f"(d{i} > 0)::BIGINT" for i in range(HASH_DIM))
    l2 = " + ".join(f"d{i} * d{i}" for i in range(HASH_DIM))
    return rf"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
    FROM documents
),
bucketed AS (
    SELECT doc_id, ({hash60_sql("token")}) % {HASH_DIM} AS b, count(*) AS cnt
    FROM tok GROUP BY 1, 2
),
wide AS (SELECT doc_id, {dim_exprs} FROM bucketed GROUP BY doc_id)
SELECT doc_id, {feat_concat} AS features,
       CAST({nnz} AS BIGINT) AS nnz,
       ROUND(sqrt({l2}), 6) AS l2
FROM wide
"""


HASHED_TF_VECTORS_SQL = _hashed_tf_sql()


QUERIES: dict[str, Query] = {
    "token_stats": Query(token_stats, TOKEN_STATS_SQL, "token counting + length stats"),
    "regex_token_stats": Query(
        regex_token_stats,
        REGEX_TOKEN_STATS_SQL,
        "BPE-style regex tokenization (portable pattern)",
    ),
    "lang_id": Query(lang_id, LANG_ID_SQL, "stopword-ratio language ID heuristic"),
    "quality_score": Query(quality_score, QUALITY_SCORE_SQL, "document quality heuristic"),
    "doc_fingerprint": Query(
        doc_fingerprint, DOC_FINGERPRINT_SQL, "rolling-hash content fingerprint"
    ),
    "tfidf_scores": Query(
        tfidf_scores,
        TFIDF_SCORES_SQL,
        "corpus TF-IDF: two partial/final aggs + broadcast corpus size",
    ),
    "hashed_tf_vectors": Query(
        hashed_tf_vectors,
        HASHED_TF_VECTORS_SQL,
        "feature hashing: 64-dim hashed TF vector per document",
    ),
}
