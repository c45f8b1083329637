"""Training-set assembly operators: vocabulary build, deterministic
train/val/test split, sequence packing.

The last mile of an LLM data pipeline, after curation (dedup → quality
→ sampling): build the token vocabulary, assign reproducible dataset
splits, and pack documents into fixed token-budget streams.

- ``vocab_build`` — top-V corpus tokens with dense rank ids. Exploded
  partial/final count aggregation, then ``TakeOrderedAndProject`` for
  the top V (the world is never globally sorted); ids are assigned by
  a window over the V-row result only. Deterministic tie-break
  (count desc, token asc) so the vocabulary is reproducible.
- ``dataset_split`` — 98/1/1 train/val/test assignment from the
  portable md5 hash of doc_id (same auditability argument as
  ``stratified_sample``: reproducible across runs, engines and
  partitionings — and therefore exactly oracle-checkable). Pure
  map-side projection: zero shuffles at any scale.
- ``sequence_pack_bins`` — streaming-concatenation packing: documents
  are concatenated per language in doc_id order and cut into
  fixed-capacity token bins; ``bin_id = tokens_before // capacity``
  from a window cumulative sum. This is the standard pretraining
  packing (concat-then-cut); a document may straddle a bin boundary.
  Scale note: ``partitionBy(lang)`` makes one sort partition per
  language — the correctness anchor. At 100 TB, salt the partition key
  to (lang, doc_id div S): each shard packs independently with its own
  bin namespace, which is still a valid packing and keeps every sort
  partition bounded.
- ``sequence_pack_bins_salted`` — that salted form as code (r12): the
  window key is (lang, shard = doc_id // 256), every sort partition is
  bounded, and within a shard the assignment equals the unsalted packer
  run on that shard alone (tests/test_training_salted.py).

No reference-engine equivalent (the reference is a 4-workload
MapReduce control plane); these follow the suite's anchor-with-oracle
discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.hashing import hash60, hash60_sql
from simple_map_reduce_ruuner_spark.functions.text import (
    TOKS_SQL,
    explode_tokens,
    norm_text,
    tokens,
)
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, spread_scan

VOCAB_SIZE = 1000
SPLIT_BUCKETS = 1000  # md5 bucket space
TRAIN_LT = 980  # [0, 980) train
VAL_LT = 990  # [980, 990) val; [990, 1000) test
PACK_CAPACITY = 2048  # tokens per packed bin


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    counts = (
        explode_tokens(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(VOCAB_SIZE)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return top.select(
        F.row_number().over(w).cast("long").alias("token_id"),
        "token",
        F.col("cnt").cast("long").alias("cnt"),
    )


VOCAB_BUILD_SQL = rf"""
WITH counts AS (
    SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents
    )
    GROUP BY t
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
           AS token_id,
       token, cnt
FROM counts
ORDER BY cnt DESC, token
LIMIT {VOCAB_SIZE}
"""


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = F.pmod(
        hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(SPLIT_BUCKETS),
    )
    split = (
        F.when(bucket < TRAIN_LT, "train")
        .when(bucket < VAL_LT, "val")
        .otherwise("test")
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("long").alias("split_bucket"),
        split.alias("split"),
    )


_BUCKET_SQL = hash60_sql("'split:' || CAST(doc_id AS VARCHAR)") + f" % {SPLIT_BUCKETS}"
DATASET_SPLIT_SQL = f"""
SELECT doc_id, lang,
       CAST({_BUCKET_SQL} AS BIGINT) AS split_bucket,
       CASE WHEN {_BUCKET_SQL} < {TRAIN_LT} THEN 'train'
            WHEN {_BUCKET_SQL} < {VAL_LT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def sequence_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)  # inclusive running total
    before = cum - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(before / F.lit(PACK_CAPACITY)).cast("long").alias("bin_id"),
        F.pmod(before, F.lit(PACK_CAPACITY)).cast("long").alias("bin_offset"),
    )


SEQUENCE_PACK_BINS_SQL = rf"""
WITH sized AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
               - n_tokens AS before
    FROM sized
)
SELECT doc_id, lang, n_tokens,
       CAST(before // {PACK_CAPACITY} AS BIGINT) AS bin_id,
       CAST(before % {PACK_CAPACITY} AS BIGINT) AS bin_offset
FROM cum
"""


PACK_SALT_DOCS = 256  # documents per salt shard (S in the SCALE.md recipe)


def sequence_pack_bins_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``sequence_pack_bins``: the window partition
    key is salted from (lang) to (lang, shard = doc_id // S), so every
    sort partition is bounded by S documents regardless of corpus size —
    the unsalted per-lang sort partition is the one piece of
    ``sequence_pack_bins`` that grows without bound (SCALE.md's packing
    row prescribed exactly this; r11 verdict item 7 turns the recipe
    into code).

    Each (lang, shard) packs independently with its own bin namespace:
    ``bin_id`` restarts per shard and a bin never spans shards, which is
    still a valid concat-then-cut packing — the only cost is at most one
    under-filled bin per shard (bounded waste: <= capacity-1 tokens per
    S documents). Within any shard the assignment is IDENTICAL to
    running the unsalted packer on that shard's documents alone
    (equivalence pinned in tests/test_training_salted.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(PACK_SALT_DOCS))
        .cast("long")
        .alias("shard"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)  # inclusive running total
    before = cum - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor(before / F.lit(PACK_CAPACITY)).cast("long").alias("bin_id"),
        F.pmod(before, F.lit(PACK_CAPACITY)).cast("long").alias("bin_offset"),
    )


SEQUENCE_PACK_BINS_SALTED_SQL = rf"""
WITH sized AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens,
           CAST(doc_id // {PACK_SALT_DOCS} AS BIGINT) AS shard
    FROM documents
),
cum AS (
    SELECT doc_id, lang, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id)
               - n_tokens AS before
    FROM sized
)
SELECT doc_id, lang, shard, n_tokens,
       CAST(before // {PACK_CAPACITY} AS BIGINT) AS bin_id,
       CAST(before % {PACK_CAPACITY} AS BIGINT) AS bin_offset
FROM cum
"""


SHARD_TARGET_BYTES = 65536  # probe-scale stand-in for ~100 MB-1 GB shards
SHARD_PREFIX_DOCS = 256  # docs per prefix-sum shard (bounded sort partitions)


def webdataset_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WebDataset shard plan: each doc's ustar entry cost
    (512-byte header + payload rounded up to 512) is prefix-summed in
    doc_id order and the doc lands in shard ``floor(cum_before /
    SHARD_TARGET_BYTES)`` — virtual-offset packing, the hash-checkable
    twin of the greedy per-writer packer (50k docs into 30 shards,
    83 % within 10 % of target;
    ``git show ffa0b7b:WEBDATASET_WRITE_r13.json``). Output is
    per-shard metadata: member count, payload bytes, and the exact
    archive size those members produce (entries + 1024-byte end marker).

    Scale shape: NO global window. The prefix sum runs per
    (doc_id // SHARD_PREFIX_DOCS) shard — every sort partition bounded
    at 256 docs regardless of corpus size — and shard offsets come from
    a window over the tiny per-shard totals (n/256 rows; at true fleet
    scale that level recurses once more, the standard hierarchical
    prefix sum). Deterministic by construction: no spark_partition_id,
    no range-sampling dependence, so the same rows land in the same
    shards on any input layout.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.length(
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        ).cast("long").alias("payload"),
    ).withColumn(
        "entry",
        (F.lit(512) + F.ceil(F.col("payload") / 512).cast("long") * 512),
    ).withColumn(
        "pshard", F.floor(F.col("doc_id") / SHARD_PREFIX_DOCS).cast("long")
    )
    win = Window.partitionBy("pshard").orderBy("doc_id")
    partials = sized.groupBy("pshard").agg(F.sum("entry").alias("psum"))
    owin = Window.orderBy("pshard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = partials.select(
        "pshard", F.coalesce(F.sum("psum").over(owin), F.lit(0)).alias("offset")
    )
    placed = sized.join(F.broadcast(offsets), "pshard").withColumn(
        "cum_before", F.col("offset") + F.sum("entry").over(win) - F.col("entry")
    )
    return (
        placed.groupBy(
            F.floor(F.col("cum_before") / SHARD_TARGET_BYTES)
            .cast("long")
            .alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("payload").alias("payload_bytes"),
            (F.sum("entry") + F.lit(1024)).cast("long").alias("tar_bytes"),
        )
    )


WEBDATASET_SHARD_PLAN_SQL = f"""
WITH m AS (
    SELECT doc_id,
           octet_length(encode(COALESCE(text, '')))::BIGINT AS payload,
           512 + ((octet_length(encode(COALESCE(text, ''))) + 511) // 512) * 512
               AS entry
    FROM documents
),
c AS (
    SELECT doc_id, payload, entry,
           COALESCE(SUM(entry) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM m
)
SELECT CAST(cum_before // {SHARD_TARGET_BYTES} AS BIGINT) AS shard_id,
       COUNT(*)::BIGINT AS n_members,
       SUM(payload)::BIGINT AS payload_bytes,
       (SUM(entry) + 1024)::BIGINT AS tar_bytes
FROM c GROUP BY 1
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level train/val/test split: the assignment key is the
    normalized-text digest (exact_dedup's group key), not the doc_id —
    so duplicate texts land in the SAME split by construction, closing
    the classic leakage hole where ``dataset_split`` can put two copies
    of one document on both sides of the train/test fence.

    Per (split, source): docs, distinct text groups, tokens. Still
    map-side assignment (hash of a hash — no join against a group
    table); the only shuffle is the final aggregate, whose
    distinct-group count rides 8-byte digests. At 100 TB this is the
    same one-pass scan as dataset_split plus a count-distinct.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    h = hash60(norm_text(F.col("text")))
    bucket = F.pmod(
        hash60(F.concat(F.lit("gsplit:"), h.cast("string"))),
        F.lit(SPLIT_BUCKETS),
    )
    split = (
        F.when(bucket < TRAIN_LT, "train")
        .when(bucket < VAL_LT, "val")
        .otherwise("test")
    )
    per_doc = docs.select(
        split.alias("split"),
        "source",
        h.alias("grp"),
        F.size(tokens(F.col("text"))).alias("nt"),
    )
    return per_doc.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("grp").cast("long").alias("n_groups"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )


from simple_map_reduce_ruuner_spark.functions.text import (
    NORM_TEXT_SQL as _NORM_TEXT_SQL,
)
_GRP_SQL = hash60_sql(_NORM_TEXT_SQL)
_GBUCKET_SQL = (
    hash60_sql(f"'gsplit:' || CAST({_GRP_SQL} AS VARCHAR)")
    + f" % {SPLIT_BUCKETS}"
)

LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH per_doc AS (
    SELECT CASE WHEN {_GBUCKET_SQL} < {TRAIN_LT} THEN 'train'
                WHEN {_GBUCKET_SQL} < {VAL_LT} THEN 'val'
                ELSE 'test' END AS split,
           source,
           {_GRP_SQL} AS grp,
           len({{toks}}) AS nt
    FROM documents
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM per_doc
GROUP BY split, source
""".format(toks=TOKS_SQL)


QUERIES: dict[str, Query] = {
    "leakage_safe_split": Query(
        leakage_safe_split,
        LEAKAGE_SAFE_SPLIT_SQL,
        "group-keyed split: duplicate texts never straddle train/test",
    ),
    "webdataset_shard_plan": Query(
        webdataset_shard_plan,
        WEBDATASET_SHARD_PLAN_SQL,
        "size-bounded ustar shard assignment via hierarchical prefix sum (no global window)",
    ),
    "vocab_build": Query(
        vocab_build,
        VOCAB_BUILD_SQL,
        "top-V vocabulary with deterministic dense ids (top-k, no global sort)",
    ),
    "dataset_split": Query(
        dataset_split,
        DATASET_SPLIT_SQL,
        "reproducible md5-hash train/val/test split (map-side, shuffle-free)",
    ),
    "sequence_pack_bins": Query(
        sequence_pack_bins,
        SEQUENCE_PACK_BINS_SQL,
        "concat-then-cut sequence packing via window cumsum",
    ),
    "sequence_pack_bins_salted": Query(
        sequence_pack_bins_salted,
        SEQUENCE_PACK_BINS_SALTED_SQL,
        "salted packing: bounded (lang, doc_id//S) sort partitions, per-shard bin namespace",
    ),
}
