"""Embedding similarity search (north-star extension).

- embedding_norms       — L2 norms: sanity anchor + the normalization
                          every downstream op reuses.
- ann_topk_bruteforce   — exact cosine top-k for a query set: broadcast
                          the (small) query side against every vector.
                          O(Q·N): correct at any N, the correctness
                          anchor for approximate variants.
- rh_lsh_buckets        — random-hyperplane LSH (SimHash for vectors,
                          Charikar 2002): 8 signed projections → 8-bit
                          bucket id per vector.
- ann_topk_lsh          — top-k *within the query's LSH bucket*: the
                          sub-quadratic path. At 100 TB the bucket join
                          shuffles each vector once by bucket id, and
                          scoring touches ~N/256 candidates per query.

Hyperplane weights are derived from the portable md5 hash (deterministic,
engine-independent), so even the approximate variant has an exact DuckDB
oracle — the approximation is in the *recall*, not in nondeterminism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.hashing import hash60, hash60_sql
from simple_map_reduce_ruuner_spark.functions.vectors import (
    unrolled_l2_norm,
    with_unrolled_cosine,
)
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table

N_QUERIES = 5  # query set = vec_id < 5 (deterministic)
TOP_K = 10
N_PLANES = 8
DIM = 64


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(unrolled_l2_norm("embedding", DIM), 6).alias("l2_norm"),
    )


EMBEDDING_NORMS_SQL = """
SELECT vec_id, label,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
FROM embeddings
"""


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector (self excluded)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .transform(
            lambda d: with_unrolled_cosine(d, "q_emb", "embedding", DIM, "raw_score")
        )
        .select("query_id", "vec_id", "raw_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("raw_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round("raw_score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


ANN_TOPK_BRUTEFORCE_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id,
           CASE
             WHEN sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) = 0
             THEN 0.0
             ELSE list_dot_product(q_emb, e.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(q_emb, q_emb))
                     * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           END AS raw_score
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
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


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------


QPROJ_SCALE = 1_000_000  # embedding components quantized to exact micros


def _planes(spark: SparkSession, n_planes: int = N_PLANES) -> DataFrame:
    """(plane, d, wk): deterministic pseudo-random INTEGER weights in
    [-1000, 1000], derived from the portable hash so DuckDB builds the
    same matrix. Weights stay integral so the projection below is an
    exact int64 sum — a float-weight SUM's accumulation order is
    partition-dependent and a projection within one ulp of 0 could flip
    its sign bit between engines (review-found). ``n_planes`` extends
    the same derivation to wider codes (plane index feeds the seed, so
    planes 0..7 are IDENTICAL to the default 8-plane matrix)."""
    planes = spark.range(n_planes).select(F.col("id").cast("int").alias("plane"))
    dims = spark.range(DIM).select(F.col("id").cast("int").alias("d"))
    seed = F.concat(
        F.lit("plane"), F.col("plane").cast("string"), F.lit(":"), F.col("d").cast("string")
    )
    return planes.crossJoin(dims).select(
        "plane", "d", (hash60(seed) % 2001 - 1000).cast("long").alias("wk")
    )


def planes_sql(n_planes: int) -> str:
    """DuckDB twin of :func:`_planes` at an arbitrary plane count (the
    same md5-derived weight matrix — plane index feeds the seed, so a
    wider request extends, never changes, the default 8 planes)."""
    return f"""
SELECT p.plane, d.d,
       CAST(({hash60_sql("'plane' || p.plane || ':' || d.d")} % 2001) - 1000
            AS BIGINT) AS wk
FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS plane) p,
     (SELECT unnest(generate_series(0, {DIM - 1})) AS d) d
"""


_PLANES_SQL = planes_sql(N_PLANES)


def banded_codes_sql(bands: int, bits: int) -> str:
    """DuckDB twin of :func:`banded_codes_of`: a WITH-clause fragment
    ending in ``banded(vec_id, band, sub)`` — bands × bits hyperplane
    sign codes, band i over planes [i·bits, (i+1)·bits). Integer
    ``//``/``%`` on INT operands truncate identically to Spark's
    int division here (non-negative plane indices)."""
    return f"""
planes AS ({planes_sql(bands * bits)}),
comp AS (
    SELECT vec_id, i - 1 AS d,
           CAST(floor(embedding[i]::DOUBLE * {QPROJ_SCALE}) AS BIGINT) AS qx
    FROM embeddings,
         (SELECT unnest(generate_series(1, {DIM})) AS i) s
),
proj AS (
    SELECT vec_id, plane, SUM(qx * wk) AS proj
    FROM comp JOIN planes USING (d)
    GROUP BY vec_id, plane
),
banded AS (
    SELECT vec_id, CAST(plane // {bits} AS INT) AS band,
           CAST(SUM(CASE WHEN proj >= 0
                         THEN 1::BIGINT << (plane % {bits})
                         ELSE 0 END) AS BIGINT) AS sub
    FROM proj GROUP BY vec_id, plane // {bits}
)"""

# Shared bucket fragment: exact integer projection sign bits. qx·wk
# caps at ~4e9 per term × 64 dims — far inside int64, and integer sums
# are order-independent, so the bucket bitmap is engine-exact even for
# projections arbitrarily close to zero.
_BUCKETS_SQL = f"""
planes AS ({_PLANES_SQL}),
comp AS (
    SELECT vec_id, i - 1 AS d,
           CAST(floor(embedding[i]::DOUBLE * {QPROJ_SCALE}) AS BIGINT) AS qx
    FROM embeddings,
         (SELECT unnest(generate_series(1, {DIM})) AS i) s
),
proj AS (
    SELECT vec_id, plane, SUM(qx * wk) AS proj
    FROM comp JOIN planes USING (d)
    GROUP BY vec_id, plane
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN proj >= 0 THEN 1::BIGINT << plane ELSE 0 END) AS BIGINT) AS bucket
    FROM proj GROUP BY vec_id
)"""


def rh_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket): bucket = bitmap of sign(v·w_plane) over planes.

    posexplode(embedding) ⋈ broadcast(planes) → per-(vec, plane) projection
    sums — one partial-aggregated shuffle keyed by vec_id, no UDFs.
    Components quantize to exact integer micros so the projection is an
    order-independent int64 sum (see _planes).
    """
    return buckets_of(spark, sf_dir, N_PLANES)


def buckets_of(
    spark: SparkSession, sf_dir: str, n_planes: int
) -> DataFrame:
    """Generalized sign-bitmap buckets over ``n_planes`` hyperplanes
    (≤ 63 — the bitmap is one int64). Same exact-integer projection as
    :func:`rh_lsh_buckets` (which is this at the default 8 planes).
    For plane budgets past one bitmap — the N-adaptive LSH's bands×bits
    codes — use :func:`banded_codes_of` instead."""
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes must be in [1, 63], got {n_planes}")
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).withColumn(
        "qx", F.floor(F.col("x").cast("double") * QPROJ_SCALE).cast("long")
    )
    proj = (
        comp.join(F.broadcast(_planes(spark, n_planes)), "d")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("qx") * F.col("wk")).alias("proj"))
    )
    return (
        proj.groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    F.col("proj") >= 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), plane)"),
                ).otherwise(F.lit(0))
            ).alias("bucket")
        )
    )


RH_LSH_BUCKETS_SQL = f"""
WITH {_BUCKETS_SQL}
SELECT vec_id, bucket FROM buckets
"""


def _plane_matrix(n_planes: int):
    """(DIM × n_planes) int64 numpy twin of :func:`_planes` — the same
    md5-derived weights, computed driver-side (n_planes × DIM md5 calls,
    microseconds) so the Arrow kernel below can broadcast one small
    matrix instead of shuffling an exploded join."""
    import hashlib

    import numpy as np

    W = np.empty((DIM, n_planes), dtype=np.int64)
    for p in range(n_planes):
        for d in range(DIM):
            h = int(
                hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()[:15], 16
            )
            W[d, p] = h % 2001 - 1000
    return W


def banded_codes_of(
    spark: SparkSession, sf_dir: str, bands: int, bits: int
) -> DataFrame:
    """(vec_id, band, sub): ``bands`` independent ``bits``-wide
    hyperplane sign codes per vector — band i owns planes
    [i·bits, (i+1)·bits) of the SAME deterministic matrix as
    :func:`_planes`. Unlike :func:`buckets_of` (one int64 bitmap,
    ≤ 63 planes total), each band code is its own aggregate, so the
    total plane budget bands×bits is unbounded — which the N-adaptive
    LSH needs: holding recall while bucket counts scale with N takes
    more than 63 planes well below real-corpus sizes.

    Computed by an Arrow-batched integer matmul against the broadcast
    plane matrix, NOT the posexplode⋈planes aggregate
    :func:`rh_lsh_buckets` uses: that join materializes
    N × DIM × planes rows, and since planes itself grows ~log-linearly
    with N, the 100× scale sweep measured the declarative form at
    1.5 BILLION intermediate rows (258 s) where this kernel does the
    identical exact-int64 math in one pass (quantized components ×
    weights ≤ 1e10/term × 64 dims — far inside int64, so the sign
    bits are bit-identical to the SQL oracle; parity-tested at two
    sizes in tests/test_scale_guards.py)."""
    if bits < 1 or bits > 62:
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = spark.sparkContext.broadcast(_plane_matrix(bands * bits))
    shifts = np.int64(1) << np.arange(bits, dtype=np.int64)  # per-band bit weights

    def codes(batches):
        W = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            Q = np.floor(X * QPROJ_SCALE).astype(np.int64)
            signs = (Q @ W) >= 0  # (n, bands*bits) exact int64 projections
            subs = signs.reshape(len(pdf), bands, bits) @ shifts  # (n, bands)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, bands),
                    "band": np.tile(
                        np.arange(bands, dtype=np.int32), len(pdf)
                    ),
                    "sub": subs.reshape(-1),
                }
            )

    return emb.mapInPandas(codes, "vec_id long, band int, sub long")


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k within the query's LSH bucket — the scale path.

    Deterministic (bucketing + scoring + total-order rank), so it has an
    exact oracle even though recall vs brute force is approximate.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = rh_lsh_buckets(spark, sf_dir)
    vecs = emb.join(buckets, "vec_id")
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    scored = (
        vecs.join(F.broadcast(queries), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .transform(
            lambda d: with_unrolled_cosine(d, "q_emb", "embedding", DIM, "raw_score")
        )
        .select("query_id", "vec_id", "raw_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round("raw_score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


ANN_TOPK_LSH_SQL = f"""
WITH {_BUCKETS_SQL},
vecs AS (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, b.bucket
    FROM embeddings e JOIN buckets b USING (vec_id)
),
q AS (
    SELECT vec_id AS query_id, emb AS q_emb, bucket
    FROM vecs WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, v.vec_id,
           CASE
             WHEN sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(v.emb, v.emb)) = 0 THEN 0.0
             ELSE list_dot_product(q_emb, v.emb)
                  / (sqrt(list_dot_product(q_emb, q_emb))
                     * sqrt(list_dot_product(v.emb, v.emb)))
           END AS raw_score
    FROM vecs v JOIN q USING (bucket)
    WHERE v.vec_id <> q.query_id
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


# --------------------------------------------------------------------------
# IVF-style ANN: coarse-quantize into cells, probe the nearest few
# --------------------------------------------------------------------------

N_CELLS = 16
NPROBE = 2


def _cell_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id, sim, rk): cosine of every vector against every
    centroid, ranked per vector. Centroids are the first N_CELLS vectors —
    deterministic stand-ins for k-means centroids (real deployments train
    them; the *plan shape* is identical: N × C broadcast scoring, argmin).

    Scoring is an Arrow kernel against the centroid matrix: the
    previous crossJoin × Catalyst-HOF cosine evaluated ~3.2 M
    interpreted zip_with/aggregate lambdas at the 100× sweep's 200 k
    vectors (≈ 100 s of the 118 s total); the kernel does the same
    left-to-right double accumulation (see :func:`_seq_dots`) in a few
    vectorized passes. Ranking happens in-kernel too — (sim desc,
    cent_id asc) via lexsort, exactly row_number's total order — so
    the N×C exchange for the window disappears as well.

    The centroid fetch is LAZY: each task reads the N_CELLS rows
    straight from the parquet footprint with a pyarrow predicate
    (vec_id < N_CELLS prunes to the matching row group(s)) the first
    time its generator runs. The r7 form collected them at
    DataFrame-CONSTRUCTION time, so merely building the plan (EXPLAIN,
    plan-shape tests, registry sweeps) triggered a real Spark job and a
    full embeddings scan (review-found). Per-task cost is one pruned
    16-row read; values are bit-identical (parquet float32 → float64
    widening either way)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_path = os.path.join(sf_dir, "embeddings.parquet")
    dim = DIM

    def _load_centroids(path):
        """(cent_ids, C) sorted by vec_id — exactly the rows the old
        driver-side collect fetched, read executor-side instead."""
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            path,
            columns=["vec_id", "embedding"],
            filters=[("vec_id", "<", N_CELLS)],
        )
        ids = tbl.column("vec_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order].astype(np.int64)
        embs = tbl.column("embedding").to_pylist()
        C = (
            np.stack([np.asarray(embs[i], dtype=np.float64) for i in order])
            if len(ids)
            else np.zeros((0, dim))
        )
        return ids, C

    def _seq_dots(X, C):
        """Dot products + norms accumulated dim by dim IN ORDER (acc =
        acc + x_d·y_d from 0.0) — the exact IEEE operation sequence of
        ``functions.vectors.dot``/``l2_norm`` and DuckDB's
        ``list_dot_product``, so scores hash-compare against the
        oracle. A BLAS matmul would be faster still but sums in blocked
        order, reintroducing last-ulp divergence on rank tie-breaks.
        Nested on purpose: a module-level helper is pickled by
        REFERENCE into the task closure and breaks when the driver runs
        outside the repo root (the verify-skill gotcha; found by
        driver_sim from /tmp)."""
        n, d = X.shape
        dots = np.zeros((n, len(C)))
        nx = np.zeros(n)
        nc = np.zeros(len(C))
        for j in range(d):
            dots += X[:, j, None] * C[None, :, j]
            nx += X[:, j] * X[:, j]
            nc += C[:, j] * C[:, j]
        return dots, np.sqrt(nx), np.sqrt(nc)

    def score(batches):
        ids_c, Cm = _load_centroids(cent_path)
        k = len(ids_c)
        for pdf in batches:
            if not len(pdf) or k == 0:
                continue
            X = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            dots, nx, nc = _seq_dots(X, Cm)
            denom = nx[:, None] * nc[None, :]
            sim = np.where(denom == 0.0, 0.0, np.divide(dots, denom, where=denom != 0.0))
            # row_number over (sim desc, cent_id asc): lexsort is
            # last-key-primary, so order by (cent_id, -sim)
            order = np.lexsort((np.broadcast_to(ids_c, sim.shape), -sim), axis=1)
            rk = np.empty_like(order)
            np.put_along_axis(rk, order, np.arange(1, k + 1)[None, :], axis=1)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, k),
                    "cent_id": np.tile(ids_c, len(pdf)),
                    "sim": sim.reshape(-1),
                    "rk": rk.reshape(-1).astype(np.int32),
                }
            )

    return emb.mapInPandas(score, "vec_id long, cent_id long, sim double, rk int")


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k within the query's NPROBE nearest IVF cells — the
    inverted-file ANN pattern (Sivic & Zisserman 2003 visual words /
    FAISS IVF): coarse-quantize every vector to its nearest centroid
    cell, probe only the few cells nearest the query.

    Scale shape: assignment is one broadcast scoring pass (N × C rows,
    C tiny); the search join shuffles by cell id, touching ~NPROBE/C of
    the corpus per query. Fully deterministic (fixed centroids, total-
    order ranking) → exact DuckDB oracle, like the LSH variant.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = _cell_scores(spark, sf_dir)
    assign = cells.where(F.col("rk") == 1).select("vec_id", F.col("cent_id").alias("cell"))
    vecs = emb.join(assign, "vec_id")
    probes = (
        cells.where((F.col("vec_id") < N_QUERIES) & (F.col("rk") <= NPROBE))
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    )
    q_emb = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        vecs.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q_emb), "query_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .transform(
            lambda d: with_unrolled_cosine(d, "q_emb", "embedding", DIM, "raw_score")
        )
        .select("query_id", "vec_id", "raw_score")
        # a vector probed via two cells must score once
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.round("raw_score", 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


_COSINE_SQL = """
           CASE
             WHEN sqrt(list_dot_product({a}, {a}))
                  * sqrt(list_dot_product({b}, {b})) = 0 THEN 0.0
             ELSE list_dot_product({a}, {b})
                  / (sqrt(list_dot_product({a}, {a}))
                     * sqrt(list_dot_product({b}, {b})))
           END
"""

ANN_TOPK_IVF_SQL = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
cents AS (
    SELECT vec_id AS cent_id, emb AS c_emb FROM e WHERE vec_id < {N_CELLS}
),
cell_scores AS (
    SELECT e.vec_id, c.cent_id,
           {_COSINE_SQL.format(a="e.emb", b="c.c_emb")} AS sim,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_COSINE_SQL.format(a="e.emb", b="c.c_emb")} DESC,
                        c.cent_id ASC) AS rk
    FROM e, cents c
),
assign AS (SELECT vec_id, cent_id AS cell FROM cell_scores WHERE rk = 1),
probes AS (
    SELECT vec_id AS query_id, cent_id AS cell
    FROM cell_scores WHERE vec_id < {N_QUERIES} AND rk <= {NPROBE}
),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT DISTINCT p.query_id, v.vec_id,
           {_COSINE_SQL.format(a="q.q_emb", b="v.emb")} AS raw_score
    FROM e v
    JOIN assign a ON a.vec_id = v.vec_id
    JOIN probes p ON p.cell = a.cell
    JOIN q ON q.query_id = p.query_id
    WHERE v.vec_id <> p.query_id
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


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    The class-prototype operator (nearest-centroid classifiers, k-means
    init, per-domain embedding drift monitoring). posexplode keeps the
    whole computation relational: the shuffle carries (label, pos)
    partial sums — 10 labels × 64 dims regardless of corpus size — and
    the aggregate runs partial→final. Float components are summed as
    exact decimals so the mean is order-independent and oracle-exact;
    no vector is ever materialized on the driver.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(25,10)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean_val"),
            F.col("n").cast("long").alias("n_vectors"),
        )
    )


LABEL_CENTROIDS_SQL = f"""
SELECT CAST(label AS BIGINT) AS label,
       CAST(i - 1 AS BIGINT) AS pos,
       ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(25,10))) AS DOUBLE)
                 / count(*), 6) AS mean_val,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM embeddings,
     (SELECT unnest(generate_series(1, {DIM})) AS i) s
GROUP BY label, i
"""


OUTLIER_DIST2 = 1.05  # squared-L2 threshold vs label centroid


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector squared L2 distance to its label centroid, with an
    outlier flag — the embedding-space quality gate (mislabeled or
    corrupted vectors sit far from their class prototype).

    Composes :func:`label_centroids` (the verified per-(label, dim)
    aggregate), re-assembled into centroid ARRAYS (sort_array over
    collected (pos, mean) structs — deterministic), broadcast, and
    summed against each embedding with the UNROLLED left-associated
    chain (functions.vectors.unrolled_dist2) — the same sequential
    left-to-right summation order the previous zip_with/aggregate fold
    used (deterministic, engine-portable, matches DuckDB's list_sum
    over the same list, bit for bit) but inside whole-stage codegen
    instead of the per-element HOF interpreter.
    """
    cent = (
        label_centroids(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))).alias("cm")
        )
        .select(
            "label",
            F.transform(F.col("cm"), lambda s: s.mean_val).alias("centroid"),
        )
    )
    from simple_map_reduce_ruuner_spark.functions.vectors import unrolled_dist2

    emb = load_table(spark, sf_dir, "embeddings")
    dist2 = unrolled_dist2("embedding", "centroid", DIM)
    return emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.round(dist2, 6).alias("dist2"),
        (dist2 > OUTLIER_DIST2).alias("is_outlier"),
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH cent_rows AS ({{LABEL_CENTROIDS_SQL}}),
cent AS (
    SELECT label, list(mean_val ORDER BY pos) AS centroid
    FROM cent_rows GROUP BY label
),
scored AS (
    SELECT vec_id, e.label,
           list_sum([
               (embedding[i]::DOUBLE - centroid[i])
                   * (embedding[i]::DOUBLE - centroid[i])
               for i in range(1, {DIM} + 1)
           ]) AS d
    FROM embeddings e JOIN cent USING (label)
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       ROUND(d, 6) AS dist2,
       d > {OUTLIER_DIST2} AS is_outlier
FROM scored
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the LSH ANN path against brute-force ground
    truth, per query — "measure, don't guess" as a first-class query.

    Composes the three verified ANN formulations and counts each
    approximate path's overlap with the exact top-k; recall is reported
    in exact milli-units (integer arithmetic). At scale this is the
    evaluation job an ANN rollout runs on a sampled query set before
    switching retrieval paths. (On this synthetic near-uniform embedding
    table the measured recalls are honest and low — hyperplane LSH has
    little to bucket on when vectors are unclustered; that finding is
    exactly what this report exists to surface.)
    """
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    base = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))

    def hits(approx: DataFrame, out: str) -> DataFrame:
        return (
            bf.join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"],
                    "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        base.join(hits(ann_topk_lsh(spark, sf_dir), "lsh_hits"), "query_id", "left")
        .join(hits(ann_topk_ivf(spark, sf_dir), "ivf_hits"), "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("long").alias("k"),
            F.expr("coalesce(lsh_hits, 0) * 1000 div k").cast("long").alias(
                "lsh_recall_milli"
            ),
            F.expr("coalesce(ivf_hits, 0) * 1000 div k").cast("long").alias(
                "ivf_recall_milli"
            ),
        )
    )


ANN_RECALL_REPORT_SQL = f"""
WITH bf AS ({{BF}}),
lsh AS ({{LSH}}),
ivf AS ({{IVF}}),
base AS (SELECT query_id, count(*) AS k FROM bf GROUP BY query_id),
lh AS (
    SELECT bf.query_id, count(*) AS n
    FROM bf SEMI JOIN lsh ON bf.query_id = lsh.query_id
                         AND bf.vec_id = lsh.vec_id
    GROUP BY bf.query_id
),
ih AS (
    SELECT bf.query_id, count(*) AS n
    FROM bf SEMI JOIN ivf ON bf.query_id = ivf.query_id
                         AND bf.vec_id = ivf.vec_id
    GROUP BY bf.query_id
)
SELECT base.query_id,
       CAST(k AS BIGINT) AS k,
       CAST(coalesce(lh.n, 0) * 1000 // k AS BIGINT) AS lsh_recall_milli,
       CAST(coalesce(ih.n, 0) * 1000 // k AS BIGINT) AS ivf_recall_milli
FROM base
LEFT JOIN lh ON base.query_id = lh.query_id
LEFT JOIN ih ON base.query_id = ih.query_id
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, code_checksum, mae, vmin, vmax): int8 scalar
    quantization of every embedding with a reconstruction-error report
    — the storage/bandwidth compressor that runs in front of ANN at
    scale (4× smaller vectors; recall impact is then measured by
    ``ann_recall_report`` on the reconstructed side).

    Per vector: min/max bounds, code_i = floor((x_i − mn)·255/(mx − mn))
    (degenerate mn == mx vectors quantize to all-zeros), reconstruction
    x̂_i = mn + code_i·(mx − mn)/255.0. ``code_checksum`` is the
    position-weighted BIGINT sum of the codes — the oracle comparison
    is therefore EXACT on the codes themselves, not just on a rounded
    error metric. mae folds sequentially left-to-right (the
    deterministic, engine-portable float order — see
    ``embedding_outliers``). Pure map-side: no shuffle; the codes stay
    inside the executor and only per-vector scalars come out.

    Since r8 the per-element math is an Arrow kernel: the
    transform/zip_with/aggregate formulation is Catalyst-INTERPRETED
    (HOFs don't enter codegen) and evaluated the ``codes`` lambda three
    times per element — 139 s at the 100× sweep's 200 k vectors. The
    kernel does the same elementwise IEEE ops in vectorized passes,
    with the mae fold accumulated dim by dim IN ORDER (the
    `_seq_dots` discipline) and the final ROUND/÷DIM left as JVM
    expressions so rounding semantics are byte-identical to before.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = DIM

    def quantize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            mn = X.min(axis=1)
            mx = X.max(axis=1)
            span = mx - mn
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.floor((X - mn[:, None]) * 255.0 / span[:, None])
            C = np.where(span[:, None] == 0.0, 0.0, C).astype(np.int64)
            checksum = (C * np.arange(1, dim + 1, dtype=np.int64)).sum(axis=1)
            # abs error, then the sequential left-to-right fold: one
            # vectorized pass per dimension, exactly acc = acc + t_d
            T = np.abs(X - (mn[:, None] + (C.astype(np.float64) * span[:, None]) / 255.0))
            err = np.zeros(len(X))
            for j in range(dim):
                err = err + T[:, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "code_checksum": checksum,
                    "err_sum": err,
                    "mn": mn,
                    "mx": mx,
                }
            )

    scalars = emb.mapInPandas(
        quantize,
        "vec_id long, code_checksum long, err_sum double, mn double, mx double",
    )
    return scalars.select(
        "vec_id",
        "code_checksum",
        F.round(F.col("err_sum") / F.lit(float(DIM)), 6).alias("mae"),
        F.round(F.col("mn"), 6).alias("vmin"),
        F.round(F.col("mx"), 6).alias("vmax"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH b AS (
    SELECT vec_id, embedding,
           CAST(list_min(embedding) AS DOUBLE) AS mn,
           CAST(list_max(embedding) AS DOUBLE) AS mx
    FROM embeddings
),
coded AS (
    SELECT vec_id, embedding, mn, mx,
           [CASE WHEN mx - mn = 0 THEN 0
                 ELSE CAST(floor((embedding[i]::DOUBLE - mn) * 255.0
                                 / (mx - mn)) AS BIGINT) END
            for i in range(1, {{DIM}} + 1)] AS codes
    FROM b
)
SELECT vec_id,
       CAST(list_sum([codes[i] * i for i in range(1, {{DIM}} + 1)]) AS BIGINT)
           AS code_checksum,
       ROUND(list_sum([
           abs(embedding[i]::DOUBLE
               - (mn + codes[i]::DOUBLE * (mx - mn) / 255.0))
           for i in range(1, {{DIM}} + 1)
       ]) / {{DIM}}.0, 6) AS mae,
       ROUND(mn, 6) AS vmin,
       ROUND(mx, 6) AS vmax
FROM coded
""".replace("{DIM}", str(DIM))


QUERIES: dict[str, Query] = {
    "embedding_norms": Query(embedding_norms, EMBEDDING_NORMS_SQL, "L2 norms"),
    "ann_topk_bruteforce": Query(
        ann_topk_bruteforce,
        ANN_TOPK_BRUTEFORCE_SQL,
        "exact cosine top-k (broadcast query set)",
    ),
    "rh_lsh_buckets": Query(
        rh_lsh_buckets,
        RH_LSH_BUCKETS_SQL,
        "random-hyperplane LSH bucket per vector",
    ),
    "ann_topk_lsh": Query(
        ann_topk_lsh,
        ANN_TOPK_LSH_SQL,
        "cosine top-k within LSH bucket (sub-quadratic ANN)",
    ),
    "ann_topk_ivf": Query(
        ann_topk_ivf,
        ANN_TOPK_IVF_SQL,
        "IVF coarse-quantized ANN: probe NPROBE nearest cells",
    ),
    "label_centroids": Query(
        label_centroids,
        LABEL_CENTROIDS_SQL,
        "per-label embedding centroid via posexplode partial/final agg",
    ),
    "ann_recall_report": Query(
        ann_recall_report,
        ANN_RECALL_REPORT_SQL.replace("{BF}", ANN_TOPK_BRUTEFORCE_SQL.strip())
        .replace("{LSH}", ANN_TOPK_LSH_SQL.strip())
        .replace("{IVF}", ANN_TOPK_IVF_SQL.strip()),
        "measured recall@k of LSH ANN vs brute-force ground truth",
    ),
    "embedding_quantize": Query(
        embedding_quantize,
        EMBEDDING_QUANTIZE_SQL,
        "int8 scalar quantization: exact code checksum + reconstruction MAE",
    ),
    "embedding_outliers": Query(
        embedding_outliers,
        EMBEDDING_OUTLIERS_SQL.replace("{LABEL_CENTROIDS_SQL}", LABEL_CENTROIDS_SQL.strip()),
        "squared-L2 distance to label centroid + outlier flag (zip_with fold)",
    ),
}
