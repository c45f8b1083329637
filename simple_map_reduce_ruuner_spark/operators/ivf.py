"""IVF ANN with a MATERIALIZED index — the build/probe split.

``similarity.ann_topk_ivf`` re-runs its N×C coarse-quantization pass on
every invocation and ranks cells against *untrained* stand-in centroids
(the first N_CELLS vectors). A recall sweep
(``git show ffa0b7b:ANN_RECALL_CURVE_r14.json``) measured both
consequences at 20k/200k vectors: the assignment pass dominates wall
clock at high cell counts (46–63 s per query at C=447, N=200k, vs 5–7 s
at C=16), and the first-N quantizer's recall degrades (0.78–0.88 at
C≈sqrt(N)).
This module is the deployable shape:

- :func:`build_ivf_index` — the amortized offline pass. Trains
  centroids with one exact-integer Lloyd iteration (the verified
  ``clustering`` kernels: quantize → seed-assign → truncating-mean
  update → re-assign) and writes the index to disk:

  * ``centroids/``  — (cid, c): C trained quantized centroids.
  * ``postings/``   — (vec_id, embedding, dist2) parquet
    **partitioned by cell**: the inverted file. A probe that joins on
    ``cell`` against a broadcast probe set reads ONLY the probed
    cells' files (partition pruning) — at 100 TB the per-query scan is
    IVF_NPROBE/C of the corpus, not the corpus.

  The index is content-keyed (embeddings parquet size+mtime, C,
  format version) and reused across invocations/sessions via the shared
  ``sources.index_store.materialize_index`` scaffold (atomic rename,
  builder races, manifest-last validity); a rebuild happens only when
  the key changes.

- :func:`ann_topk_ivf_indexed` — the probe. Quantizes only the query
  vectors, ranks TRAINED cells by exact integer L2 (ties to smaller
  cid), probes the IVF_NPROBE nearest, and scores candidates with the
  unrolled exact-IEEE cosine. Everything is deterministic, so the
  DuckDB oracle replays train+assign+probe from scratch and must agree
  bit-for-bit — materializing the index can never change an answer.

- :func:`ivf_index_stats` — reads the index back and reports per-cell
  occupancy/tightness (the index-health report a deployment watches
  for skewed cells before shipping a centroid set).

Reference parity note: the reference
(`Master.java:174-208`) has no vector search at all; this is part of
the north-star similarity family (SURVEY.md §2.C13), extending
``similarity.ann_topk_ivf`` per the r14 verdict's top item.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from math import ceil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators import clustering
from simple_map_reduce_ruuner_spark.operators.clustering import QSCALE
from simple_map_reduce_ruuner_spark.operators.dedup import (
    _parquet_file_stats,
    _parquet_row_count,
)
from simple_map_reduce_ruuner_spark.operators.similarity import (
    _COSINE_SQL,
    DIM,
    N_QUERIES,
    TOP_K,
)
from simple_map_reduce_ruuner_spark.functions.vectors import with_unrolled_cosine
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.index_store import materialize_index
from simple_map_reduce_ruuner_spark.sources.tables import load_table

# C ≈ sqrt(N) at the test corpora (500 embeddings at sf0.001 AND
# sf0.01) — the scale-appropriate cell count the r14 curve showed the
# first-N quantizer failing at. Distinct from clustering.K=16 on
# purpose: this family's sizes follow the deployment sizing rule.
IVF_CELLS = 22
IVF_NPROBE = 2

INDEX_FORMAT_VERSION = 1
_CENTROIDS_SCHEMA = "cid long, c array<long>"
_POSTINGS_SCHEMA = "vec_id long, embedding array<float>, dist2 long, cell int"


def _index_key(sf_dir: str) -> str:
    """Content key: any change to the embeddings parquet (size/mtime of
    every part), the training params (C and the one Lloyd update), or
    the on-disk format invalidates.
    The quantization constants are part of the key (review-found): a
    QSCALE/DIM change would otherwise silently reuse an index built
    under the OLD quantization while the oracle replays with the new —
    the format version only covers the LAYOUT, not the math."""
    stats = _parquet_file_stats(os.path.join(sf_dir, "embeddings.parquet"))
    raw = json.dumps(
        [
            INDEX_FORMAT_VERSION,
            os.path.realpath(sf_dir),
            IVF_CELLS,
            1,  # Lloyd updates
            QSCALE,
            DIM,
            stats,
        ]
    )
    return hashlib.md5(raw.encode()).hexdigest()


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (or reuse) the IVF index for ``sf_dir`` under
    ``$SMRR_IVF_INDEX_DIR`` (default: the temp dir); returns its
    directory. See the module docstring for layout and invalidation.

    Cost shape: two assignment passes over the corpus (numpy cogroup
    kernel, no shuffle — centroids replicate to each ≤50k-row group)
    around one Lloyd update (C×DIM-bounded shuffles) and one join to
    attach raw embeddings to the postings — all one-time; every probe
    afterwards reads only the probed cells. This is the pass that
    dominated per-query wall clock when re-run inline (46–63 s at
    C=447, N=200k; ``git show ffa0b7b:ANN_RECALL_CURVE_r14.json``);
    here it is paid once per corpus. The oracle
    replays exactly this seed-assign → update → re-assign pipeline.
    """
    base = os.environ.get("SMRR_IVF_INDEX_DIR") or os.path.join(
        tempfile.gettempdir(), "smrr_ivf_index"
    )
    n_vecs = _parquet_row_count(os.path.join(sf_dir, "embeddings.parquet"))

    def write(scratch: str) -> None:
        n_groups = max(1, ceil(n_vecs / clustering._ASSIGN_GROUP_ROWS))
        qv = clustering._quantized(spark, sf_dir)
        seeds = qv.where(F.col("vec_id") < IVF_CELLS).select(
            F.col("vec_id").alias("cid"), F.col("q").alias("c")
        )
        trained = clustering._update(
            clustering._assign(spark, qv, seeds, n_groups)
        )
        assigned = clustering._assign(spark, qv, trained, n_groups)

        trained.write.parquet(os.path.join(scratch, "centroids"))
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        (
            assigned.select("vec_id", "cid", "dist2")
            .join(emb, "vec_id")
            .select(
                "vec_id",
                "embedding",
                "dist2",
                F.col("cid").cast("int").alias("cell"),
            )
            .write.partitionBy("cell")
            .parquet(os.path.join(scratch, "postings"))
        )

    return materialize_index(
        base,
        _index_key(sf_dir),
        write,
        {
            "format_version": INDEX_FORMAT_VERSION,
            "n_cells": IVF_CELLS,
            "n_iters": 1,
            "n_vectors": n_vecs,
            "sf_dir": os.path.realpath(sf_dir),
        },
    )


def _read_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, postings) with EXPLICIT schemas — an empty corpus
    writes no part files, and schema inference on a data-less dataset
    raises; the probe must still answer (empty) on empty input."""
    cents = spark.read.schema(_CENTROIDS_SCHEMA).parquet(
        os.path.join(path, "centroids")
    )
    post = spark.read.schema(_POSTINGS_SCHEMA).parquet(
        os.path.join(path, "postings")
    )
    return cents, post


def probe_cells(
    spark: SparkSession, sf_dir: str, cents: DataFrame
) -> DataFrame:
    """(query_id, q_emb, cell): each query's IVF_NPROBE nearest TRAINED
    cells by exact BIGINT L2 on the quantized coordinates, ties to the
    smaller cid."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * QSCALE).cast("long")
        ).alias("q"),
    )
    d2 = F.aggregate(
        F.zip_with("q", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cid"))
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("dist2", d2)
        .withColumn("rk", F.row_number().over(w_cell))
        .where(F.col("rk") <= IVF_NPROBE)
        .select("query_id", "q_emb", F.col("cid").cast("int").alias("cell"))
    )


def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine within the IVF_NPROBE TRAINED cells nearest each
    query — the probe side of the build/probe split.

    Plan shape: the C-row centroid table broadcasts against the
    ≤N_QUERIES query vectors (cell ranking is exact BIGINT L2 on the
    quantized coordinates — engine-portable, no IEEE anywhere); the
    (query, cell) probe set broadcasts against the cell-partitioned
    postings, so the posting scan prunes to the probed partitions; the
    unrolled cosine scores only those candidates. No full-corpus pass
    happens at probe time — that is the entire point of the split.

    Construction ensures the index exists (first use on a corpus pays
    the one-time :func:`build_ivf_index`; a deployment schedules that
    build as its own job and probes ride the content-keyed reuse).
    """
    cents, post = _read_index(spark, build_ivf_index(spark, sf_dir))
    probes = probe_cells(spark, sf_dir, cents)
    cand = (
        post.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .transform(
            lambda d: with_unrolled_cosine(d, "q_emb", "embedding", DIM, "raw_score")
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("raw_score"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round("raw_score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy report straight off the materialized postings:
    (cell, n_vectors, mean_dist2, share_milli). ``share_milli`` is each
    cell's exact per-mille share of the corpus — the expected probe
    cost of hitting that cell — and ``mean_dist2`` the truncating-mean
    quantized tightness (the signal that a centroid set needs
    retraining). C-bounded aggregate over the index; the corpus total
    joins back as a broadcast 1-row scalar (the ``forecast`` pattern),
    not an unbounded window.
    """
    _, post = _read_index(spark, build_ivf_index(spark, sf_dir))
    per_cell = post.groupBy(F.col("cell").cast("long").alias("cell")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(dist2) div count(*)").cast("long").alias("mean_dist2"),
    )
    total = per_cell.agg(F.sum("n").alias("_tot"))
    return per_cell.crossJoin(F.broadcast(total)).select(
        "cell",
        F.col("n").cast("long").alias("n_vectors"),
        "mean_dist2",
        F.expr("n * 1000 div _tot").cast("long").alias("share_milli"),
    )


def _probe_cte() -> str:
    """Oracle CTE chain: replay train+assign (clustering's verified
    pipeline at C=IVF_CELLS) then rank TRAINED cells per query by the
    same exact integer L2 / (dist2, cid) order as the Spark probe."""
    return f"""{clustering._pipeline_cte(IVF_CELLS)},
qcell AS (
    SELECT d.vec_id AS query_id, c.cid,
           sum((d.q - c.q) * (d.q - c.q)) AS dist2
    FROM dims d JOIN c2 c USING (dim)
    WHERE d.vec_id < {N_QUERIES}
    GROUP BY 1, 2
),
probes AS (
    SELECT query_id, cid AS cell FROM qcell
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY dist2, cid) <= {IVF_NPROBE}
)"""


ANN_TOPK_IVF_INDEXED_SQL = f"""
WITH {_probe_cte()},
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
qe AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT p.query_id, b.vec_id,
           {_COSINE_SQL.format(a="qe.q_emb", b="v.emb")} AS raw_score
    FROM probes p
    JOIN b2 b ON b.cid = p.cell
    JOIN e v ON v.vec_id = b.vec_id
    JOIN qe ON qe.query_id = p.query_id
    WHERE b.vec_id <> p.query_id
),
ranked AS (
    SELECT query_id, vec_id, raw_score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY raw_score DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, ROUND(raw_score, 6) AS score, rank
FROM ranked WHERE rank <= {TOP_K}
"""


IVF_INDEX_STATS_SQL = f"""
WITH {clustering._pipeline_cte(IVF_CELLS)}
SELECT CAST(cid AS BIGINT) AS cell,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(dist2) // count(*) AS BIGINT) AS mean_dist2,
       CAST(count(*) * 1000 // (SELECT count(*) FROM b2) AS BIGINT)
           AS share_milli
FROM b2
GROUP BY cid
"""


QUERIES: dict[str, Query] = {
    "ann_topk_ivf_indexed": Query(
        ann_topk_ivf_indexed,
        ANN_TOPK_IVF_INDEXED_SQL,
        "IVF ANN probe over the materialized trained-centroid index",
    ),
    "ivf_index_stats": Query(
        ivf_index_stats,
        IVF_INDEX_STATS_SQL,
        "per-cell occupancy/tightness report off the materialized IVF index",
    ),
}
