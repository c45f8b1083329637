"""Training-data curation operators: CDC snapshot, document chunking,
repetition-based quality stats, winsorized robust aggregates.

These extend the LLM-pipeline suite (dedup/textstats/similarity) with
the remaining staples a 100 TB curation pipeline runs between ingest
and training:

- ``latest_events_snapshot`` — CDC-style upsert compaction: keep the
  latest record per key. Implemented as a single partial/final
  ``max_by(struct(payload), struct(ts, id))`` aggregation — one shuffle
  keyed by user, NO window sort (a row_number window must sort every
  partition; max_by keeps one struct per key through the map-side
  combine, which is the plan that survives 100 TB of events).
- ``doc_chunks`` — overlapping fixed-width chunking (context-window
  prep). Chunk starts come from ``sequence(1, len, stride)`` per doc —
  O(doc_len / stride) rows, no self-join, no UDF; emits md5 + length
  per chunk, never the chunk text itself (output stays narrow).
- ``repetition_stats`` — Gopher-style repetition quality signals
  (Rae et al. 2021, "Scaling Language Models"): top-token fraction,
  distinct-token ratio, top-bigram fraction. Two exploded partial/final
  aggregations (unigrams, bigrams) joined per doc; bigrams are built
  JVM-side with ``transform`` over the token array.
- ``winsorized_values`` — robust mean after clipping to [p05, p95].
  Exact percentiles per group (5 groups), broadcast back to the fact
  table, decimal-cast sum for order-independent rounding.

The reference engine has no equivalent (it is a 4-workload MapReduce
control plane, Master.java:24-88); these follow the same
anchor-with-oracle discipline as the rest of the suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.hashing import hash60
from simple_map_reduce_ruuner_spark.functions.text import tokens
from simple_map_reduce_ruuner_spark.operators.textstats import (
    QUALITY_SCORE_SQL as _QSQL,
)
from simple_map_reduce_ruuner_spark.operators.relational import dsum
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import (
    load_table,
    session_cache,
    spread_scan,
)

CHUNK_LEN = 200
CHUNK_STRIDE = 150


def latest_events_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — CDC upsert compaction.

    ``max_by`` over an orderable struct gives a deterministic winner
    (ts, then event_id as the unique tiebreaker) in ONE aggregation:
    partial max per map task, final max after a single hash shuffle on
    user_id. The window-function formulation (row_number = 1) needs a
    full sort of every partition; this needs no sort at all.
    """
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct("ts", "event_id", "event_type", "value")
    latest = ev.groupBy("user_id").agg(F.max_by(payload, ord_key).alias("r"))
    return latest.select(
        "user_id",
        F.col("r.ts").alias("ts"),
        F.col("r.event_id").alias("event_id"),
        F.col("r.event_type").alias("event_type"),
        F.round(F.col("r.value"), 6).alias("value"),
    )


LATEST_EVENTS_SNAPSHOT_SQL = """
SELECT user_id, ts, event_id, event_type, ROUND(value, 6) AS value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
) = 1
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width character chunks per document.

    Every document yields ceil(max(len,1) / stride) chunks starting at
    1, 1+stride, 2*stride+1, ...; the final chunk is short. Output is
    (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5) — the text
    itself never leaves the executor, so the shuffle carries ~40 bytes
    per chunk regardless of chunk width. No spread_scan here: the
    operator's contract is shuffle-FREE (plan-pinned), and its per-row
    work is md5/substring (codegen), not an interpreted HOF.
    """
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.substring(F.col("text"), F.col("start"), CHUNK_LEN)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


DOC_CHUNKS_SQL = f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text), 1) + 1, {CHUNK_STRIDE})) AS s
    FROM documents
)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(length(substr(text, s, {CHUNK_LEN})) AS BIGINT) AS chunk_len,
       md5(substr(text, s, {CHUNK_LEN})) AS chunk_md5
FROM starts
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals (Gopher rules).

    top_token_frac  = occurrences of the most frequent token / n_tokens
    distinct_ratio  = distinct tokens / n_tokens
    top_bigram_frac = occurrences of the most frequent bigram / n_bigrams
                      (0.0 for documents with fewer than 2 tokens)

    Both signals are exploded-count partial/final aggregations — the
    shuffle carries (doc_id, kind, gram, count) partial rows, never full
    documents. Unigrams and bigrams explode out of ONE kind-tagged pass:
    the old two-branch form tokenized the corpus twice (the interpreted
    higher-order split is the CPU hot spot) and joined the two per-doc
    aggregates back — one tokenize, two exchanges, and conditional
    aggregation replaces the join (guide §2.4; the doubled subtree
    had 7 exchanges,
    ``git show ffa0b7b:plans/r15/repetition_stats_before.txt``).
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))

    # length-guarded slice zip (the ANSI-safe BPE pattern): slice length
    # 0 gives [] for 0/1-token docs, where sequence(1, size-1) would
    # yield the DESCENDING [1, 0] and fabricate bigrams
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    pair_structs = F.transform(
        F.arrays_zip(F.slice(F.col("toks"), 1, n1), F.slice(F.col("toks"), 2, n1)),
        lambda p: F.struct(
            F.lit(1).alias("kind"),
            F.concat_ws(" ", p["0"], p["1"]).alias("g"),
        ),
    )
    tok_structs = F.transform(
        F.col("toks"),
        lambda t: F.struct(F.lit(0).alias("kind"), t.alias("g")),
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.concat(tok_structs, pair_structs)).alias("x"),
    ).select("doc_id", F.col("x.kind").alias("kind"), F.col("x.g").alias("g"))

    per_doc = (
        grams.groupBy("doc_id", "kind", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("kind") == 0, F.col("c"))).cast("long").alias(
                "n_tokens"
            ),
            F.count(F.when(F.col("kind") == 0, F.lit(1))).cast("long").alias(
                "n_distinct"
            ),
            F.max(F.when(F.col("kind") == 0, F.col("c"))).cast("long").alias(
                "top_cnt"
            ),
            F.sum(F.when(F.col("kind") == 1, F.col("c"))).cast("long").alias(
                "n_bigrams"
            ),
            F.max(F.when(F.col("kind") == 1, F.col("c"))).cast("long").alias(
                "top_bi_cnt"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("top_cnt") / F.col("n_tokens"), 6).alias("top_token_frac"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        F.coalesce(
            F.round(F.col("top_bi_cnt") / F.col("n_bigrams"), 6), F.lit(0.0)
        ).alias("top_bigram_frac"),
    )


REPETITION_STATS_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
               AS toks
    FROM documents
),
uni AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(c) AS BIGINT) AS top_cnt
    FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
        GROUP BY doc_id, t
    )
    GROUP BY doc_id
),
bi AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS BIGINT) AS top_bi_cnt
    FROM (
        SELECT doc_id, b, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1]
                   )) AS b
            FROM toks
            WHERE len(toks) >= 2
        )
        GROUP BY doc_id, b
    )
    GROUP BY doc_id
)
SELECT uni.doc_id,
       n_tokens,
       ROUND(top_cnt / n_tokens, 6) AS top_token_frac,
       ROUND(n_distinct / n_tokens, 6) AS distinct_ratio,
       COALESCE(ROUND(top_bi_cnt / n_bigrams, 6), 0.0) AS top_bigram_frac
FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
"""


def winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust mean per event_type after clipping values to [p05, p95].

    Two passes over events: (1) exact interpolated percentiles per group
    (5 groups — tiny result, broadcast back), (2) clipped decimal-cast
    sum/count. The percentile pass buffers per-group values (exact
    anchor); at 100 TB swap pass 1 for the GK sketch twin
    (``approx_percentiles``) — pass 2 is scale-clean as is.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.05), F.lit(0.95)))
    bounds = ev.groupBy("event_type").agg(
        pct.getItem(0).alias("lo"), pct.getItem(1).alias("hi")
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("v"),
        F.col("value").between(F.col("lo"), F.col("hi")).alias("inside"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round((dsum(F.col("v")) / F.count(F.lit(1))).cast("double"), 6).alias(
            "winsorized_mean"
        ),
        F.sum(F.when(~F.col("inside"), 1).otherwise(0)).cast("long").alias(
            "n_clipped"
        ),
    )


WINSORIZED_VALUES_SQL = """
WITH bounds AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS lo,
           quantile_cont(value, 0.95) AS hi
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(least(greatest(value, lo), hi) AS DECIMAL(30,6)))
                  / count(*) AS DOUBLE), 6) AS winsorized_mean,
       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped
FROM events e JOIN bounds b ON e.event_type = b.event_type
GROUP BY e.event_type
"""


def user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from an event log: each event's value is
    valid from its own timestamp until the user's next event.

    The complement of ``latest_events_snapshot``: instead of compacting
    to the newest row, reconstruct the full slowly-changing-dimension
    history (the shape warehouse dimension loads and point-in-time joins
    consume). One hash exchange on user_id + an in-partition sort; the
    lead() frame is a single row, so state is O(1) per partition stream.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


USER_VALUE_HISTORY_SQL = """
SELECT user_id, event_id, value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document its corpus-relative quality decile (1-10).

    The tiering step quality-based filtering schedules consume ("train
    on the top 3 deciles, sample the middle"). The nine decile bounds
    are ONE exact-percentile aggregate row broadcast back onto the
    corpus — no global sort, no window over the full table; the decile
    is computed by counting bounds strictly below the score (ties land
    in the lower decile in both engines).
    """
    from simple_map_reduce_ruuner_spark.operators.textstats import quality_score

    q = quality_score(spark, sf_dir)
    bounds = q.agg(
        F.percentile(
            "quality", F.array(*[F.lit(i / 10) for i in range(1, 10)])
        ).alias("b")
    )
    decile = F.lit(1) + F.aggregate(
        F.col("b"),
        F.lit(0),
        lambda acc, x: acc + F.when(F.col("quality") > x, 1).otherwise(0),
    )
    return q.join(F.broadcast(bounds)).select(
        "doc_id", "quality", decile.cast("long").alias("decile")
    )


QUALITY_DECILES_SQL = """
WITH q AS ({QUALITY_SCORE_SQL}),
bounds AS (
    SELECT quantile_cont(quality, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS b
    FROM q
)
SELECT doc_id, quality,
       CAST(1 + len(list_filter(b, x -> quality > x)) AS BIGINT) AS decile
FROM q, bounds
"""


ANOMALY_SIGMAS = 3


def value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier flags per event_type — with NO floating-point
    aggregation anywhere, so the flag is bit-portable.

    The z-score test |v - mean| > K*sigma is cross-multiplied into pure
    integer algebra on micro-scaled values: with s = SUM(v_micro),
    q = SUM(v_micro^2) and n = COUNT (exact DECIMAL(38,0) sums),

        (v - s/n)^2 > K^2 * (q/n - (s/n)^2)      | * n^2
        <=>  (n*v - s)^2 > K^2 * (n*q - s*s)

    Every quantity is an exact integer (max ~1e33 << 1e38), so Spark's
    partial/final aggregation order and DuckDB agree on every boundary
    row — the same trick as orders_above_customer_avg, extended to
    second moments. The stats side is one row per event_type, broadcast.

    Headroom: with |v| < 1e3 (micro ~1e9), s*s stays inside DECIMAL(38)
    up to ~1e9 rows per group; past that, drop the unit scale (milli)
    or pre-aggregate per shard — the algebra is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1_000_000).cast("decimal(38,0)")
    stats = (
        ev.select("event_type", micro.alias("vm"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("vm").alias("s"),
            F.sum(F.col("vm") * F.col("vm")).alias("q"),
        )
    )
    dev = F.col("n") * micro - F.col("s")
    lhs = dev * dev
    rhs = F.lit(ANOMALY_SIGMAS * ANOMALY_SIGMAS) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (lhs > rhs).alias("is_anomaly"),
    )


VALUE_ANOMALIES_SQL = f"""
WITH m AS (
    SELECT event_id, event_type, value,
           CAST(round(value * 1000000) AS DECIMAL(38,0)) AS vm
    FROM events
),
stats AS (
    SELECT event_type,
           CAST(count(*) AS DECIMAL(38,0)) AS n,
           SUM(vm) AS s,
           SUM(vm * vm) AS q
    FROM m GROUP BY event_type
)
SELECT event_id, m.event_type, value,
       (n * vm - s) * (n * vm - s)
           > {ANOMALY_SIGMAS * ANOMALY_SIGMAS} * (n * q - s * s) AS is_anomaly
FROM m JOIN stats USING (event_type)
"""




MAD_K_NUM = 7  # |x - median| > (7/2) * MAD  (the classic 3.5x rule,
MAD_K_DEN = 2  # held as a ratio so the test below is pure integers)


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, median_milli, mad_e4, n_outliers, outlier_ppm):
    robust median/MAD outlier census per event_type — the
    outlier-resistant twin of ``value_anomalies`` (whose mean/sigma
    baseline is itself dragged by the very outliers it hunts; the
    3.5x-MAD rule is the curation-pipeline standard, Iglewicz & Hoaglin
    1993).

    Exactness via even scaling: on x2 = 2x(integer cents), both median
    passes interpolate midpoints of EVEN integers, so every percentile
    is an integer-valued double (exact in IEEE far past 2^53/4e15 -- at
    cents scale, values to 2e13) and casts back to BIGINT losslessly in
    both engines. The outlier test clears all fractions:
        |x - m| > (7/2) * MAD   <=>   4*|x2 - m2| > 7 * mad4
    with m2 = median(2c) and mad4 = median(2*|x2 - m2|) = 4*MAD_cents —
    pure BIGINT comparison, no IEEE anywhere in the verdict. Outputs
    re-scale exactly: median_milli = 5*m2 (value x 10^3), mad_e4 =
    25*mad4 (value x 10^4). Degenerate contract (both engines): if more
    than half the group sits AT the median, MAD = 0 and every value off
    the median flags — the documented limiting behavior of the rule.

    Scale shape: two exact percentile passes (per-group buffering
    anchors, |event_type|-bounded output broadcast back — the
    ``winsorized_values`` contract; at 100 TB swap them for the GK
    sketch twin) plus one integer partial/final census aggregate.
    """
    # Store entry "mad_devs" (a lazy checkpoint): devs feeds BOTH the
    # MAD percentile pass and the census — without it each consumer
    # re-scans events and re-runs the median join (executed-plan audit:
    # 3 event passes); the checkpoint materializes the 4 narrow columns
    # once.
    devs = session_cache(spark, sf_dir, "mad_devs", lambda: _mad_devs(spark, sf_dir))
    mad = devs.groupBy("event_type").agg(
        F.percentile("dev2", F.lit(0.5)).cast("long").alias("mad4")
    )
    flagged = devs.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "m2",
        "mad4",
        (F.col("dev2") * MAD_K_DEN > MAD_K_NUM * F.col("mad4")).alias("is_out"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("m2").alias("m2"),
            F.min("mad4").alias("mad4"),
            F.sum(F.when(F.col("is_out"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            (F.col("m2") * 5).alias("median_milli"),
            (F.col("mad4") * 25).alias("mad_e4"),
            "n_outliers",
            F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
        )
    )


def _mad_devs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, x2, m2, dev2): the input of both MAD passes."""
    ev = load_table(spark, sf_dir, "events")
    x2 = (F.round(F.col("value") * 100) * 2).cast("long")
    base = ev.select("event_type", x2.alias("x2"))
    med = base.groupBy("event_type").agg(
        F.percentile("x2", F.lit(0.5)).cast("long").alias("m2")
    )
    return base.join(F.broadcast(med), "event_type").select(
        "event_type",
        "x2",
        "m2",
        (F.abs(F.col("x2") - F.col("m2")) * 2).alias("dev2"),
    )


MAD_OUTLIERS_SQL = f"""
WITH base AS (
    SELECT event_type,
           CAST(round(value * 100) * 2 AS BIGINT) AS x2
    FROM events
),
med AS (
    SELECT event_type, CAST(quantile_cont(x2, 0.5) AS BIGINT) AS m2
    FROM base GROUP BY 1
),
devs AS (
    SELECT b.event_type, b.x2, m.m2, abs(b.x2 - m.m2) * 2 AS dev2
    FROM base b JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, CAST(quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
    FROM devs GROUP BY 1
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(d.m2) * 5 AS median_milli,
       min(a.mad4) * 25 AS mad_e4,
       CAST(sum(CASE WHEN d.dev2 * {MAD_K_DEN} > {MAD_K_NUM} * a.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN d.dev2 * {MAD_K_DEN} > {MAD_K_NUM} * a.mad4
                     THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
           AS outlier_ppm
FROM devs d JOIN mad a USING (event_type)
GROUP BY 1
"""




CDC_DIV = 16
CDC_SHINGLE = 3
from simple_map_reduce_ruuner_spark.functions.text import TOKS_SQL as _CDC_TOKS_SQL


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chunk_hash, n_occurrences, n_docs, n_tokens): duplicated
    content-defined chunks across the corpus.

    ``doc_chunks`` cuts at fixed offsets, so inserting one token shifts
    every later boundary and identical content stops hashing equal —
    the classic weakness fixed by CONTENT-defined chunking (rsync/LBFS
    lineage; used for chunk-level dedup of training corpora): a token
    position ends a chunk when the rolling hash of the {CDC_SHINGLE}-gram
    starting there ≡ 0 (mod {CDC_DIV}), so boundaries are a function of
    local content and re-synchronize after any edit. Expected chunk
    length = CDC_DIV tokens; production variants add min/max bounds,
    omitted here to keep both engines' formulations identical.

    Plan: boundary flags compute inside ONE JVM transform over the
    token array (portable md5 hash, no UDF); posexplode → per-doc
    window (prefix sum of flags = chunk id, the sessionize idiom) →
    chunk assembly keyed (doc, chunk) → corpus-wide duplicate counts
    keyed by chunk hash. Everything is O(tokens) with doc_id- or
    hash-keyed shuffles; chunk text never leaves the executor (only
    its md5 does).
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    # materialize the token array as a COLUMN before the position
    # transform: a lambda that closes over the raw tokens(text)
    # expression re-tokenizes the document per position (interpreted
    # HOF bodies get no subexpression reuse) — O(tokens²) per doc;
    # an attribute reference is a plain value lookup (same fix as
    # functions.text.word_shingles, measured 8× there).
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    structs = F.when(n >= 1, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(toks, i).alias("token"),
            F.when(
                (i <= n - CDC_SHINGLE + 1)
                & (
                    hash60(F.concat_ws(" ", F.slice(toks, i, CDC_SHINGLE)))
                    % CDC_DIV
                    == 0
                ),
                1,
            )
            .otherwise(0)
            .alias("bnd"),
        ),
    )).otherwise(F.array())
    rows = tokd.select("doc_id", F.explode(structs).alias("s")).select(
        "doc_id", "s.pos", "s.token", "s.bnd"
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = rows.withColumn(
        "chunk_id", F.coalesce(F.sum("bnd").over(w), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("n_tokens"),
        )
        .where(F.col("n_occurrences") >= 2)
    )


def _cdc_chunk_dedup_sql() -> str:
    from simple_map_reduce_ruuner_spark.functions.hashing import hash60_sql

    gram = "array_to_string(t[pos:pos+{last}], ' ')".format(last=CDC_SHINGLE - 1)
    return f"""
WITH toks AS (SELECT doc_id, {_CDC_TOKS_SQL} AS t FROM documents),
pos AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
    FROM toks WHERE len(t) >= 1
),
flagged AS (
    SELECT doc_id, pos, t[pos] AS token,
           CASE WHEN pos <= len(t) - {CDC_SHINGLE} + 1
                 AND ({hash60_sql(gram)}) % {CDC_DIV} = 0
                THEN 1 ELSE 0 END AS bnd
    FROM pos
),
chunked AS (
    SELECT doc_id, pos, token,
           COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
    FROM flagged
),
chunks AS (
    SELECT doc_id, chunk_id, count(*) AS n_tokens,
           md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
    FROM chunked GROUP BY 1, 2
)
SELECT chunk_hash,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens
FROM chunks GROUP BY 1 HAVING count(*) >= 2
"""


QUERIES: dict[str, Query] = {
    "cdc_chunk_dedup": Query(
        cdc_chunk_dedup,
        _cdc_chunk_dedup_sql(),
        "content-defined chunking + corpus-wide duplicate-chunk counts",
    ),
    "latest_events_snapshot": Query(
        latest_events_snapshot,
        LATEST_EVENTS_SNAPSHOT_SQL,
        "CDC keep-latest-per-key via single max_by agg (no window sort)",
    ),
    "doc_chunks": Query(
        doc_chunks,
        DOC_CHUNKS_SQL,
        "overlapping fixed-width chunking for context-window prep",
    ),
    "repetition_stats": Query(
        repetition_stats,
        REPETITION_STATS_SQL,
        "Gopher-style repetition quality signals (top token/bigram frac)",
    ),
    "winsorized_values": Query(
        winsorized_values,
        WINSORIZED_VALUES_SQL,
        "robust clipped mean: exact percentile bounds broadcast back",
    ),
    "user_value_history": Query(
        user_value_history,
        USER_VALUE_HISTORY_SQL,
        "SCD2 validity intervals (valid_from/valid_to) from the event log",
    ),
    "value_anomalies": Query(
        value_anomalies,
        VALUE_ANOMALIES_SQL,
        "3-sigma anomaly flags via exact integer moment algebra (no float agg)",
    ),
    "mad_outliers": Query(
        mad_outliers,
        MAD_OUTLIERS_SQL,
        "median/MAD 3.5x robust outlier census: even-scaled integer-exact "
        "percentiles, pure-BIGINT verdict",
    ),
    "quality_deciles": Query(
        quality_deciles,
        QUALITY_DECILES_SQL.replace("{QUALITY_SCORE_SQL}", _QSQL.strip()),
        "corpus-relative quality decile per doc (broadcast exact bounds)",
    ),
}
