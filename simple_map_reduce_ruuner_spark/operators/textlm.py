"""Language-model-oriented corpus statistics (north-star extension;
absent in the reference, which has no text analytics beyond word/char
counts — exampleCodes/word_count/mapper.cpp, char_count/mapper.py).

- doc_lm_familiarity — per-document unigram-LM familiarity: how common a
  document's tokens are in the corpus, in exact integer ppm/basis-point
  arithmetic (the quality signal a data pipeline uses to rank docs by
  "typicality" before training).
- bigram_counts      — corpus bigram table with document frequencies
  (the n-gram statistics layer under contamination / LM scoring).
- token_pmi          — pointwise mutual information over token
  co-occurrence within documents (collocation mining).
- simhash_band_pairs — banded-SimHash near-dup candidates verified by
  exact Hamming distance: the hash-sketch twin of the MinHash-LSH path.
- neardup_editdist   — MinHash-LSH candidates verified by Levenshtein
  edit distance on normalized prefixes (character-level verification
  complementing shingle-Jaccard).
- doc_length_histogram — corpus length profile in fixed-width buckets.

Scale notes (100 TB): every operator is one or two key-bounded shuffles.
``doc_lm_familiarity``/``token_pmi`` shuffle on token (vocabulary-bounded,
far smaller than the corpus) then on doc_id; ``simhash_band_pairs`` joins
only within 15-bit band buckets (the sub-quadratic LSH shape, never
all-pairs); ``neardup_editdist`` scores only LSH candidates. Integer
arithmetic everywhere except one log/division per output row, mirroring
the repo-wide determinism rules (see tfidf_scores).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.hashing import hash60_sql
from simple_map_reduce_ruuner_spark.functions.text import (
    explode_tokens,
    norm_text,
    tokens,
    word_shingles,
)
from simple_map_reduce_ruuner_spark.operators.dedup import SIMHASH_BITS
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import (
    load_table,
    session_cache,
    spread_scan,
)

from simple_map_reduce_ruuner_spark.functions.text import TOKS_SQL as _TOKS_SQL
_TOK_ROWS_SQL = f"SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents"
from simple_map_reduce_ruuner_spark.functions.text import (
    NORM_TEXT_SQL as _NORM_TEXT_SQL,
)

MIN_BIGRAM_COUNT = 5
MIN_PAIR_COUNT = 20  # token_pmi: min docs containing both tokens
# SIMHASH_BITS imported from dedup (single source of truth — the band
# masks here MUST cover exactly the signature width dedup produces)
BAND_BITS = 15  # 60-bit simhash → 4 bands of 15 bits
HAMMING_MAX = 8
EDIT_PREFIX = 150  # chars of normalized text scored by levenshtein
EDIT_MAX = 20
LEN_BUCKET = 100  # doc_length_histogram bucket width (chars)

# Overflow-safe mean-unigram-probability in ppm: int64 wraps on
# sum_cnt * 1e6 past ~9.2e12 total token occurrences, so widen both the
# numerator and the n_tokens*total denominator to DECIMAL(38,0) before the
# integral divide (Spark's DIV on decimals returns BIGINT directly).
PPM_EXPR = (
    "CAST(CAST(sum_cnt AS DECIMAL(38,0)) * 1000000"
    " DIV (CAST(n_tokens AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)))"
    " AS BIGINT)"
)


def doc_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, sum_cnt, n_rare, familiarity_ppm, rare_bp):
    average corpus frequency of the document's tokens.

    familiarity_ppm = (Σ corpus-count of each token occurrence) * 1e6
    div (n_tokens * corpus_total) — i.e. the mean unigram probability of
    the document in parts-per-million, floored to an integer so the
    result is engine-exact. rare_bp = fraction of tokens whose corpus
    count is 1, in basis points.

    Plan: one shuffle keyed by token to build the unigram table (bounded
    by vocabulary size, not corpus size), a second keyed by doc_id to
    fold counts back per document; the 1-row corpus total broadcasts.
    In practice the fact side is never shuffled at all: the vocabulary
    table broadcasts onto the exploded tokens and the per-doc fold
    rides the hash(doc_id) spread exchange. The corpus IS tokenized
    twice (once per aggregate branch) — measured ~0.1 s distributed at
    sf0.1, and both r16 single-tokenize rewrites LOST (shared
    pair-grain exchange +0.3 s, per-(doc,token) pre-aggregation
    +0.15 s — the added exchange/aggregate outweighs the tokenize;
    ``git show d3c6a43:OPTIMIZATION_r16.md``), so the two-branch form stays.
    The ppm products are computed in DECIMAL(38,0) (int128-class) so the
    math survives 100 TB corpora: sum_cnt * 1e6 wraps int64 past ~9.2e12
    total token occurrences, well under web scale. The DuckDB oracle
    mirrors this with HUGEINT. Both operands are exact integers and
    non-negative, so DIV (truncating) == floor division on both engines.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    tok = explode_tokens(docs, keep=("doc_id",))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    per_doc = (
        tok.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return per_doc.join(F.broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_cnt").cast("long").alias("sum_cnt"),
        F.col("n_rare").cast("long").alias("n_rare"),
        F.expr(PPM_EXPR).alias("familiarity_ppm"),
        F.expr("n_rare * 10000 div n_tokens").cast("long").alias("rare_bp"),
    )


DOC_LM_FAMILIARITY_SQL = f"""
WITH tok AS ({_TOK_ROWS_SQL}),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
total AS (SELECT SUM(cnt) AS total FROM counts),
per_doc AS (
    SELECT doc_id, count(*) AS n_tokens, SUM(cnt) AS sum_cnt,
           SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_rare
    FROM tok JOIN counts USING (token)
    GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum_cnt AS BIGINT) AS sum_cnt,
       CAST(n_rare AS BIGINT) AS n_rare,
       CAST(CAST(sum_cnt AS HUGEINT) * 1000000
            // (CAST(n_tokens AS HUGEINT) * CAST(total AS HUGEINT))
            AS BIGINT) AS familiarity_ppm,
       CAST(n_rare * 10000 // n_tokens AS BIGINT) AS rare_bp
FROM per_doc, total
"""


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bigram, cnt, n_docs): corpus bigram frequencies with document
    frequencies, thresholded at MIN_BIGRAM_COUNT.

    Bigrams assemble JVM-side from the token array (word_shingles k=2,
    no self-join on position); one partial/final agg keyed by bigram.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    big = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("bigram")
    )
    return (
        big.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .where(F.col("cnt") >= MIN_BIGRAM_COUNT)
        .select("bigram", F.col("cnt").cast("long"), F.col("n_docs").cast("long"))
    )


BIGRAM_COUNTS_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
big AS (
    SELECT doc_id,
           unnest([
               array_to_string(t[i : i + 1], ' ')
               for i in range(1, greatest(len(t) - 1, 1) + 1)
           ]) AS bigram
    FROM toks
)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM big GROUP BY bigram
HAVING count(*) >= {MIN_BIGRAM_COUNT}
"""


def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token_a, token_b, n_ab, pmi): pointwise mutual information of
    token pairs co-occurring in the same document.

    PMI = ln(n_ab * N / (n_a * n_b)) over document frequencies. The
    pair join shuffles distinct (doc, token) rows on doc_id, so the
    blowup is C(distinct tokens per doc, 2) — bounded by per-document
    vocabulary, not corpus size; the unigram table broadcasts. One ln
    per output row on an exact integer ratio (the tfidf determinism
    pattern).

    ONE corpus tokenization (r15, the CMS/Bloom ReusedExchange fix):
    the unigram table and BOTH pair-join sides consume the distinct
    (doc_id, token) aggregate through subtree-identical plans — the
    join sides disambiguate via alias, NOT pre-renamed projections,
    because a Project under the join's doc_id exchange makes the
    subtrees differ and defeats exchange reuse (the r14 plan re-scanned
    the corpus 3× through the explode for exactly that reason).
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    # the explicit null filters are semantic no-ops (doc_id is the PK;
    # tokens come from split) but make the base subtree CANONICALLY
    # IDENTICAL to what the pair join infers from its keys (isnotnull
    # pushed below the distinct) — without them the unigram branch
    # plans its own scan+explode instead of riding the reused exchange
    d = (
        explode_tokens(docs, keep=("doc_id",))
        .where(F.col("doc_id").isNotNull() & F.col("token").isNotNull())
        .distinct()
    )
    df_t = d.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    pairs = (
        d.alias("pa")
        .join(d.alias("pb"), "doc_id")
        .where(F.col("pa.token") < F.col("pb.token"))
        .select(
            F.col("pa.token").alias("token_a"),
            F.col("pb.token").alias("token_b"),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= MIN_PAIR_COUNT)
    )
    da = df_t.select(F.col("token").alias("token_a"), F.col("df").alias("df_a"))
    db = df_t.select(F.col("token").alias("token_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "token_a")
        .join(F.broadcast(db), "token_b")
        .join(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            # products go to double BEFORE multiplying: n_ab·n_docs in
            # int64 overflows (ANSI crash) once the corpus passes ~3e9
            # docs, on both engines; the float product is invisible
            # under ROUND(..., 6) and the oracle mirrors the exact
            # association order so the IEEE sequence is identical
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_docs"))
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


TOKEN_PMI_SQL = f"""
WITH d AS (SELECT DISTINCT doc_id, token FROM ({_TOK_ROWS_SQL})),
df AS (SELECT token, count(*) AS df FROM d GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
pairs AS (
    SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_ab
    FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY 1, 2
    HAVING count(*) >= {MIN_PAIR_COUNT}
)
SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
       ROUND(ln((n_ab * 1.0 * n.n_docs) / (da.df * 1.0 * db.df)), 6) AS pmi
FROM pairs
JOIN df da ON da.token = token_a
JOIN df db ON db.token = token_b
CROSS JOIN n
"""


def simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup pairs whose 60-bit SimHash
    fingerprints agree on ≥1 of 4 15-bit bands AND lie within
    HAMMING_MAX bit flips — banded candidate generation (sub-quadratic,
    join only within band buckets) then exact Hamming verification via
    bit_count(xor), the SimHash twin of ``neardup_lsh_verified``.

    ``simhash()`` returns the session-cached signature checkpoint
    (dedup's "simhash" memo), so whichever of this query and the
    ``simhash`` registry entry executes first materializes the
    (doc_id, simhash) blocks and the other rides them — 100×: 62.8 s
    (recompute-from-scratch) → 17.6 s (rider).
    """
    from simple_map_reduce_ruuner_spark.operators.dedup import simhash

    sig = simhash(spark, sf_dir)
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), b * BAND_BITS).bitwiseAND(
                F.lit((1 << BAND_BITS) - 1)
            )
            for b in range(SIMHASH_BITS // BAND_BITS)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.posexplode(bands).alias("band", "band_val")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "band_val"
    )
    # Dedup across bands WITHOUT a distinct: a pair colliding on k bands
    # appears k times in the join, but which bands match is a pure
    # function of xor(ha, hb) (a band matches iff its 15-bit window is
    # all zeros), so keeping a row only when its join band IS the pair's
    # first matching band emits every pair exactly once. The previous
    # `.distinct()` re-shuffled the ENTIRE pre-verification candidate
    # volume — the dominant exchange at 100× (hot 15-bit buckets make
    # candidates ≫ verified pairs); this filter and the Hamming cut now
    # both run inside the join's own projection, so nothing after the
    # band join moves more than the final result set.
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    first_band = F.coalesce(
        *[
            F.when(
                F.shiftright(xor, b * BAND_BITS).bitwiseAND(
                    F.lit((1 << BAND_BITS) - 1)
                )
                == 0,
                F.lit(b),
            )
            for b in range(SIMHASH_BITS // BAND_BITS)
        ]
    )
    hamming = F.bit_count(xor)
    return (
        a.join(b, ["band", "band_val"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (hamming <= HAMMING_MAX)
            & (F.col("band") == first_band)
        )
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
    )


def _simhash_band_pairs_sql() -> str:
    from simple_map_reduce_ruuner_spark.operators.dedup import SIMHASH_SQL

    n_bands = SIMHASH_BITS // BAND_BITS
    mask = (1 << BAND_BITS) - 1
    return f"""
WITH s AS ({SIMHASH_SQL.strip()}),
bands AS (
    SELECT doc_id, simhash, b,
           (simhash >> (b * {BAND_BITS})) & {mask} AS band_val
    FROM s, (SELECT unnest(generate_series(0, {n_bands - 1})) AS b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                    a.simhash AS ha, c.simhash AS hb
    FROM bands a
    JOIN bands c ON a.b = c.b AND a.band_val = c.band_val
                AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
"""


def neardup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, editdist): MinHash-LSH candidate pairs verified by
    Levenshtein distance ≤ EDIT_MAX on the first EDIT_PREFIX chars of
    normalized text — character-level near-dup verification.

    Edit distance is O(prefix²) per pair, so it only ever runs on the
    sub-quadratic LSH candidate set, never all pairs; the prefix cap
    bounds the per-pair cost regardless of document length.
    """
    from simple_map_reduce_ruuner_spark.operators.dedup import neardup_minhash_lsh

    cand = neardup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pref = docs.select(
        "doc_id", F.substring(norm_text(F.col("text")), 1, EDIT_PREFIX).alias("txt")
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), F.col("txt").alias("txt_a"))
    pb = pref.select(F.col("doc_id").alias("doc_b"), F.col("txt").alias("txt_b"))
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .where(dist <= EDIT_MAX)
        .select("doc_a", "doc_b", dist.cast("long").alias("editdist"))
    )


def _neardup_editdist_sql() -> str:
    from simple_map_reduce_ruuner_spark.operators.dedup import NEARDUP_MINHASH_LSH_SQL

    return f"""
WITH cand AS ({NEARDUP_MINHASH_LSH_SQL.strip()}),
pref AS (SELECT doc_id, substr({_NORM_TEXT_SQL}, 1, {EDIT_PREFIX}) AS txt FROM documents)
SELECT doc_a, doc_b,
       CAST(levenshtein(a.txt, b.txt) AS BIGINT) AS editdist
FROM cand
JOIN pref a ON a.doc_id = doc_a
JOIN pref b ON b.doc_id = doc_b
WHERE levenshtein(a.txt, b.txt) <= {EDIT_MAX}
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_docs, min_chars, max_chars, sum_chars, avg_chars,
    share_bp): corpus length profile in LEN_BUCKET-char buckets.

    Single partial/final agg keyed by bucket; the 1-row total broadcasts
    for the integer basis-point share.
    """
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    by_bucket = (
        docs.select(F.expr(f"n_chars div {LEN_BUCKET}").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    return by_bucket.join(F.broadcast(total)).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("min_chars").cast("long").alias("min_chars"),
        F.col("max_chars").cast("long").alias("max_chars"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        F.round(F.col("sum_chars").cast("double") / F.col("n_docs"), 6).alias(
            "avg_chars"
        ),
        F.expr("n_docs * 10000 div total").cast("long").alias("share_bp"),
    )


DOC_LENGTH_HISTOGRAM_SQL = f"""
WITH total AS (SELECT count(*) AS total FROM documents),
by_bucket AS (
    SELECT n_chars // {LEN_BUCKET} AS bucket, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           SUM(n_chars) AS sum_chars
    FROM documents GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(min_chars AS BIGINT) AS min_chars,
       CAST(max_chars AS BIGINT) AS max_chars,
       CAST(sum_chars AS BIGINT) AS sum_chars,
       ROUND(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
       CAST(n_docs * 10000 // total AS BIGINT) AS share_bp
FROM by_bucket, total
"""


def token_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, n_novel, novelty): per document, the fraction
    of its distinct bigrams whose corpus-wide FIRST occurrence (minimum
    doc_id, the ingestion-order proxy) is this document.

    The first-occurrence-attribution signal behind dedup-aware sampling:
    near-zero novelty marks a document that only repeats earlier
    material even when no single earlier document is a near-duplicate —
    the case pairwise near-dup detection structurally misses.

    Plan: per-doc-distinct (doc, bigram-hash) pairs → per-bigram window
    MIN (the first-occurrence doc) → per-doc conditional aggregate.
    Two scale moves over the r8 form (same pair as the neardup_jaccard
    rework): (1) a (doc, bigram) duplicate can only arise WITHIN a
    document, so ``array_distinct`` before the explode replaces the
    corpus-wide ``.distinct()`` — one whole exchange of exploded rows
    deleted, value-identical; (2) bigrams are hashed to the portable
    60-bit hash BEFORE the window, so the surviving bigram-keyed
    exchange and its sort move 8-byte longs instead of strings. The
    oracle hashes with the bit-identical md5 formulation, so even the
    ~2⁻⁶¹-probability collision behavior matches exactly. The output
    carries no bigram text, only per-doc counts. Every stage is keyed
    by bigram-hash or doc_id; nothing is quadratic and nothing
    broadcasts corpus-sized state. 100×: 39.6 s (r8 string-distinct
    form) → 18.233 s (``git show 68922be:SCALE_CURVE_100X_r09.json``).
    """
    from pyspark.sql import Window

    from simple_map_reduce_ruuner_spark.functions.hashing import hash60

    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 2))).alias(
            "bigram"
        ),
    ).select("doc_id", hash60(F.col("bigram")).alias("bigram"))
    labeled = pairs.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("bigram"))
    )
    return (
        labeled.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_bigrams"), 6
            ).alias("novelty"),
        )
    )


TOKEN_NOVELTY_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
big0 AS (
    SELECT DISTINCT doc_id,
           unnest([
               array_to_string(t[i : i + 1], ' ')
               for i in range(1, greatest(len(t) - 1, 1) + 1)
           ]) AS bigram_s
    FROM toks
),
big AS (SELECT doc_id, {hash60_sql('bigram_s')} AS bigram FROM big0),
first AS (SELECT bigram, min(doc_id) AS first_doc FROM big GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       ROUND(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
FROM big JOIN first USING (bigram)
GROUP BY doc_id
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pair, cnt, n_types): adjacent CHARACTER-pair frequencies over
    the corpus — the statistic a BPE tokenizer trainer's first merge
    maximizes (cnt weights each word type by its corpus occurrences;
    n_types is how many distinct word types contain the pair).

    Scale shape — the two-level trick every BPE trainer uses: aggregate
    the corpus to (word type, count) FIRST (vocabulary-bounded, the
    word_count shuffle), then explode character pairs over the small
    type table with the count carried as a weight. The corpus is
    scanned once and never exploded per character; pair rows are
    bounded by Σ|type| over the vocabulary, not by corpus tokens.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    types = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = types.select(
        "w",
        "wc",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wc").cast("long").alias("cnt"),
            F.count_distinct("w").cast("long").alias("n_types"),
        )
        .where(F.length("pair") == 2)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH types AS (
    SELECT w, count(*) AS wc
    FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
    GROUP BY w
),
pairs AS (
    SELECT w, wc, unnest([ w[i : i + 1] for i in range(1, len(w)) ]) AS pair
    FROM types
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt,
       CAST(count(DISTINCT w) AS BIGINT) AS n_types
FROM pairs
WHERE len(pair) = 2
GROUP BY pair
"""


# ---------------------------------------------------------------------------
# Iterative BPE training (r15): k greedy merges, not just the first statistic
# ---------------------------------------------------------------------------

BPE_MERGES = 6
# Symbol separator for the merge-state encoding. Every symbol is wrapped
# SEP<sym>SEP and symbols are concatenated, so a word's state looks like
# SEP a SEP SEP b SEP …; the merge of (l, r) is then a plain string
# replace of SEP l SEP SEP r SEP with SEP lr SEP — and because replace
# in BOTH engines (Java String.replace / DuckDB replace, differentially
# pinned in tests) substitutes non-overlapping occurrences LEFT TO
# RIGHT, the substitution IS the greedy BPE merge rule ("aaa" with
# merge (a,a) → [aa, a]). Word types containing the separator byte are
# excluded up front in both engines (none exist in whitespace tokens).
_BSEP = "\x1f"

# symbols back out of the encoding: split on the inter-symbol SEP SEP,
# trim the word-boundary SEPs, drop empties (pure-empty states)
_BPE_SYMS = (
    "filter(transform(split(enc, concat(char(31), char(31))),"
    " x -> btrim(x, char(31))), x -> x != '')"
)


def _bpe_state_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """([best₁..best_k], final state): the k = BPE_MERGES iteration
    greedy merge loop over the (word type, count) table, shared by the
    trainer, the encoder and the on-disk index writer. State rows carry
    (w, enc, wc); see :func:`bpe_train_merges` for the algorithm.

    The state each merge reads is a store entry (``("bpe_state", i)``):
    ``localCheckpoint`` plans the query at CALL time even when lazy
    (measured 2.1–3.2 s per bpe_* build at sf0.1), so the entries make
    that a once-per-session cost. The argmax frames and the final merge
    are plain plans over the entries, rebuilt per call."""
    sep = F.lit(_BSEP)

    def merged(t: DataFrame, best: DataFrame) -> DataFrame:
        return t.crossJoin(F.broadcast(best)).select(
            "w",
            F.replace(
                F.col("enc"),
                F.concat(sep, F.col("l"), sep, sep, F.col("r"), sep),
                F.concat(sep, F.col("l"), F.col("r"), sep),
            ).alias("enc"),
            "wc",
        )

    # ANSI-safe adjacent pairs: zip of the two length-guarded slices —
    # no index expression can ever go out of bounds, and slice length 0
    # gives [] for 0/1-symbol states (sequence(1, size-1) would yield
    # the DESCENDING [1, 0] there)
    n1 = "greatest(size(syms) - 1, 0)"
    pair_arr = f"arrays_zip(slice(syms, 1, {n1}), slice(syms, 2, {n1}))"

    def argmax(t: DataFrame) -> DataFrame:
        pc = (
            t.select("wc", F.expr(_BPE_SYMS).alias("syms"))
            .select("wc", F.explode(F.expr(pair_arr)).alias("p"))
            .select("wc", F.col("p")["0"].alias("l"), F.col("p")["1"].alias("r"))
            .groupBy("l", "r")
            .agg(F.sum("wc").alias("cnt"))
        )
        return pc.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(1)

    t = session_cache(
        spark, sf_dir, ("bpe_state", 0), lambda: _bpe_types(spark, sf_dir)
    )
    merges = [argmax(t)]
    for step in range(1, BPE_MERGES):
        t = session_cache(
            spark, sf_dir, ("bpe_state", step), partial(merged, t, merges[-1])
        )
        merges.append(argmax(t))
    return merges, merged(t, merges[-1])


def _bpe_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, enc, wc): every word type, one symbol per character."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    types = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(~F.col("w").contains(_BSEP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    enc0 = F.concat(
        F.lit(_BSEP),
        F.array_join(
            F.expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"),
            _BSEP + _BSEP,
        ),
        F.lit(_BSEP),
    )
    return types.select("w", enc0.alias("enc"), "wc")


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, left_sym, right_sym, cnt): the first k = BPE_MERGES greedy BPE
    merges over the corpus (Sennrich et al. 2016) — the trained
    tokenizer's merge table, extending :func:`bpe_pair_counts` (one
    merge statistic) to the full training loop.

    Per iteration: weighted adjacent-pair counts over the CURRENT
    symbolization, argmax with the total order (cnt DESC, left ASC,
    right ASC), then the merge applied to every word type via the
    separator-encoded string replace (see ``_BSEP``). Deterministic
    end-to-end, so the DuckDB oracle replays all k steps as chained
    CTEs (the ewma/throttle recursive-replay discipline).

    Scale shape (the pagerank-style checkpointed loop): the
    corpus is scanned ONCE total — iterations run on the (word type,
    count) table, so the per-iteration shuffle is bounded by |vocab| ×
    avg symbols, never corpus tokens; the 1-row argmax broadcasts into
    the map-side merge. Each iteration's state is a store entry (a
    lazy checkpoint) — the argmax and the merge both consume it, and
    without the checkpoint the re-derivation doubles per level (2^k).
    Reference parity note: the reference (`Master.java:174-208`) has no
    tokenizer training; north-star text-analysis extension.
    """
    merges, _ = _bpe_state_chain(spark, sf_dir)
    return merge_rows(merges)


def merge_rows(merges: list[DataFrame]) -> DataFrame:
    """(step, left_sym, right_sym, cnt) union over the chain's per-step
    argmax frames — shared output shape of the inline trainer and the
    materialized index writer (``bpe_index.build_bpe_merges``)."""
    out = None
    for step, best in enumerate(merges, start=1):
        row = best.select(
            F.lit(step).cast("long").alias("step"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_tokens, n_chars, chars_per_token_milli): the
    APPLY side of the trainer — every document tokenized with the k
    trained merges, reported as per-doc token accounting (the number a
    training pipeline budgets sequence packing and cost with).

    Scale shape: the merge loop runs once on the vocabulary (shared
    chain with :func:`bpe_train_merges`); per-type token count is
    ``size(split(enc))`` over the FINAL state — no re-tokenization per
    document — and the doc pass is one explode + one join on the word
    type + a per-doc aggregate. Exact integers end to end (no IEEE
    anywhere). Degenerate contract, identical in both engines: words
    containing the separator byte don't join (none exist in whitespace
    tokens), and if the corpus runs out of distinct pairs before k
    merges the state chain goes empty (cross join with an empty argmax)
    — a corpus that small has no meaningful BPE vocabulary.
    """
    _, t = _bpe_state_chain(spark, sf_dir)
    return encode_against_types(spark, sf_dir, type_token_counts(t))


def type_token_counts(t: DataFrame) -> DataFrame:
    """(w, n_tok, n_ch) off a (w, enc, wc) symbolization state — the
    per-word-type token accounting both encode paths join against."""
    return t.select(
        "w",
        F.expr("size(split(enc, concat(char(31), char(31))))").alias("n_tok"),
        F.char_length("w").alias("n_ch"),
    )


def encode_against_types(
    spark: SparkSession, sf_dir: str, per_type: DataFrame
) -> DataFrame:
    """One corpus explode + a word-type join + a per-doc aggregate:
    the apply side shared by ``bpe_encode_docs`` (types from the inline
    chain) and ``bpe_index.bpe_encode_indexed`` (types off disk)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    return (
        words.join(per_type, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_ch").cast("long").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_chars * 1000 div n_tokens").alias("chars_per_token_milli"),
        )
    )


def _bpe_chain_blocks(k: int) -> list[str]:
    """The shared k-step CTE chain (types → t0 → p/b/t per step); each
    block recomputes pair counts from the previous state, takes the
    same (cnt DESC, l, r) argmax, and applies the same
    separator-encoded replace. States carry w for the encoder."""
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    syms = f"[trim(x, {sep}) for x in str_split(enc, {sep2})]"
    blocks = [
        f"""types AS (
    SELECT w, count(*) AS wc
    FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
    WHERE strpos(w, {sep}) = 0
    GROUP BY w
),
t0 AS (
    SELECT w,
           {sep} || array_to_string([w[i] for i in range(1, len(w) + 1)],
                                    {sep2}) || {sep} AS enc, wc
    FROM types
)"""
    ]
    for s in range(1, k + 1):
        blocks.append(
            f"""p{s} AS (
    SELECT syms[i] AS l, syms[i + 1] AS r, SUM(wc) AS cnt
    FROM (SELECT {syms} AS syms, wc FROM t{s - 1}) sy,
         LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
    GROUP BY 1, 2
),
b{s} AS (SELECT l, r, cnt FROM p{s} ORDER BY cnt DESC, l, r LIMIT 1),
t{s} AS (
    SELECT w, replace(enc, {sep} || l || {sep2} || r || {sep},
                   {sep} || l || r || {sep}) AS enc, wc
    FROM t{s - 1}, b{s}
)"""
        )
    return blocks


def _bpe_train_sql(k: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({s} AS BIGINT) AS step, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS cnt FROM b{s}"
        for s in range(1, k + 1)
    )
    return "WITH " + ",\n".join(_bpe_chain_blocks(k)) + "\n" + union


def _bpe_encode_sql(k: int) -> str:
    sep = "chr(31)"
    sep2 = f"{sep} || {sep}"
    tail = f""",
tl AS (SELECT w, len(str_split(enc, {sep2})) AS n_tok, len(w) AS n_ch
       FROM t{k}),
tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_ch) AS BIGINT) AS n_chars,
       CAST(sum(n_ch) * 1000 // sum(n_tok) AS BIGINT)
           AS chars_per_token_milli
FROM tok JOIN tl USING (w)
GROUP BY doc_id"""
    return "WITH " + ",\n".join(_bpe_chain_blocks(k)) + tail


BPE_TRAIN_MERGES_SQL = _bpe_train_sql(BPE_MERGES)
BPE_ENCODE_DOCS_SQL = _bpe_encode_sql(BPE_MERGES)


QUERIES: dict[str, Query] = {
    "bpe_pair_counts": Query(
        bpe_pair_counts,
        BPE_PAIR_COUNTS_SQL,
        "BPE first-merge statistic: char-pair counts over the weighted "
        "word-type table (vocabulary-bounded, corpus scanned once)",
    ),
    "bpe_train_merges": Query(
        bpe_train_merges,
        BPE_TRAIN_MERGES_SQL,
        "k greedy BPE merges (ckpt'd iterative loop; oracle replays all "
        "k steps as chained CTEs)",
    ),
    "bpe_encode_docs": Query(
        bpe_encode_docs,
        BPE_ENCODE_DOCS_SQL,
        "per-doc token accounting under the k trained BPE merges "
        "(apply side: vocabulary tokenized once, one doc join)",
    ),
    "doc_lm_familiarity": Query(
        doc_lm_familiarity,
        DOC_LM_FAMILIARITY_SQL,
        "per-doc unigram-LM familiarity in exact integer ppm",
    ),
    "bigram_counts": Query(
        bigram_counts, BIGRAM_COUNTS_SQL, "corpus bigram table with doc frequencies"
    ),
    "token_pmi": Query(
        token_pmi, TOKEN_PMI_SQL, "PMI collocations over per-doc co-occurrence"
    ),
    "simhash_band_pairs": Query(
        simhash_band_pairs,
        _simhash_band_pairs_sql(),
        "banded-SimHash candidates verified by exact Hamming distance",
    ),
    "neardup_editdist": Query(
        neardup_editdist,
        _neardup_editdist_sql(),
        "LSH candidates verified by Levenshtein on normalized prefixes",
    ),
    "doc_length_histogram": Query(
        doc_length_histogram,
        DOC_LENGTH_HISTOGRAM_SQL,
        "corpus length profile in fixed-width buckets",
    ),
    "token_novelty": Query(
        token_novelty,
        TOKEN_NOVELTY_SQL,
        "per-doc fraction of bigrams first seen in that doc",
    ),
}


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, docs_upto, vocab_upto, new_tokens, vocab_per_doc_milli):
    vocabulary growth at geometric corpus checkpoints — the Heaps'-law
    curve a corpus budget is planned against (how fast does the
    vocabulary still grow if we ingest 2x more?), and the statistic that
    separates organic corpora (steady sub-linear growth) from template
    spam (early plateau).

    Checkpoint b = "the corpus restricted to doc_id < 2^b". Scale-clean
    construction with NO global rank/sort and no driver state: each
    token's first-occurrence doc (one vocabulary-bounded MIN aggregate)
    and each doc land in the integer bucket ``length(bin(id))`` (0 for
    id 0) — the float-free log2 idiom from ``interarrival_hist`` — and
    id < 2^b  ⟺  bucket(id) ≤ b, so both cumulative curves are running
    sums over the ≤64 bucket rows (a single-partition window over a
    bucket-bounded aggregate, the rankstats convention). The join of
    the two ≤64-row tables is trivially broadcast. Exact integers
    everywhere; vocab_per_doc_milli is an integer div.

    Buckets with docs but no new tokens still appear (growth 0 — the
    plateau signal IS the point), via a left join from the doc curve.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    bucket = lambda c: F.when(  # noqa: E731
        F.col(c) > 0, F.length(F.bin(F.col(c)))
    ).otherwise(F.lit(0)).cast("long")
    firsts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(bucket("first_doc").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    per_doc = (
        docs.select(bucket("doc_id").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_docs"))
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = (
        per_doc.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "new_docs",
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
        .select(
            "bucket",
            F.sum("new_docs").over(w_cum).cast("long").alias("docs_upto"),
            F.sum("new_tokens").over(w_cum).cast("long").alias("vocab_upto"),
            F.col("new_tokens").cast("long").alias("new_tokens"),
        )
    )
    return curve.withColumn(
        "vocab_per_doc_milli", F.expr("vocab_upto * 1000 div docs_upto")
    )


VOCAB_GROWTH_CURVE_SQL = f"""
WITH tok AS ({_TOK_ROWS_SQL}),
firsts AS (
    SELECT CASE WHEN min(doc_id) > 0 THEN length(bin(min(doc_id)))
                ELSE 0 END AS bucket
    FROM tok GROUP BY token
),
tok_b AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS new_tokens
    FROM firsts GROUP BY 1
),
doc_b AS (
    SELECT CASE WHEN doc_id > 0 THEN length(bin(doc_id)) ELSE 0 END
               AS bucket,
           CAST(count(*) AS BIGINT) AS new_docs
    FROM documents GROUP BY 1
),
curve AS (
    SELECT d.bucket,
           CAST(sum(d.new_docs) OVER w AS BIGINT) AS docs_upto,
           CAST(sum(coalesce(t.new_tokens, 0)) OVER w AS BIGINT)
               AS vocab_upto,
           CAST(coalesce(t.new_tokens, 0) AS BIGINT) AS new_tokens
    FROM doc_b d LEFT JOIN tok_b t USING (bucket)
    WINDOW w AS (ORDER BY d.bucket ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(bucket AS BIGINT) AS bucket, docs_upto, vocab_upto,
       new_tokens,
       CAST(vocab_upto * 1000 // docs_upto AS BIGINT)
           AS vocab_per_doc_milli
FROM curve
"""

QUERIES["vocab_growth_curve"] = Query(
    vocab_growth_curve,
    VOCAB_GROWTH_CURVE_SQL,
    "Heaps'-law vocabulary growth at 2^b doc-id checkpoints: log2-bucket "
    "firsts, cumulative sums over <=64 bucket rows, no global sort",
)
