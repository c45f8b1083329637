"""The all-pairs ANCHORS enforce their scale contracts: above a hard
input ceiling they must refuse (reading only parquet FOOTER metadata —
no Spark job) and point the caller at their verified sub-quadratic
twins. A silent success on oversized input would be the 100 TB
scale-killer the guards exist to prevent.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from simple_map_reduce_ruuner_spark.operators import dedup


def _write(dir_path, name, table):
    path = dir_path / f"{name}.parquet"
    pq.write_table(table, path)
    return str(path)


@pytest.fixture()
def tiny_sf(tmp_path):
    _write(
        tmp_path,
        "documents",
        pa.table(
            {
                "doc_id": [1, 2, 3],
                "text": ["a b c d e f", "a b c d e g", "x y z w v u"],
            }
        ),
    )
    _write(
        tmp_path,
        "embeddings",
        pa.table(
            {"vec_id": [1, 2, 3], "embedding": [[1.0, 0.0]] * 3}
        ),
    )
    return str(tmp_path)


def test_neardup_jaccard_refuses_oversized_input(spark, tiny_sf, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_ALLPAIRS_DOCS", 2)
    with pytest.raises(ValueError, match="neardup_lsh_verified"):
        dedup.neardup_jaccard(spark, tiny_sf)


def test_neardup_embedding_refuses_oversized_build_side(
    spark, tiny_sf, monkeypatch
):
    monkeypatch.setattr(dedup, "MAX_BROADCAST_VECTORS", 2)
    with pytest.raises(ValueError, match="neardup_embedding_lsh"):
        dedup.neardup_embedding(spark, tiny_sf)


def test_guards_admit_in_contract_input(spark, tiny_sf):
    """Below the ceiling both anchors run normally on the same fixture
    (so the guard tests above prove the REFUSAL, not a broken path)."""
    assert dedup.neardup_jaccard(spark, tiny_sf).count() >= 1
    assert dedup.neardup_embedding(spark, tiny_sf).count() >= 1


def test_fixed_band_lsh_refuses_oversized_input(spark, tiny_sf, monkeypatch):
    """The fixed 2×4-bit banding is ~N²/32 — quadratic by constant
    (measured 175× at 100× data) — so past MAX_FIXED_BAND_VECTORS it
    must refuse and point at the N-adaptive twin."""
    monkeypatch.setattr(dedup, "MAX_FIXED_BAND_VECTORS", 2)
    with pytest.raises(ValueError, match="neardup_embedding_lsh_auto"):
        dedup.neardup_embedding_lsh(spark, tiny_sf)


def test_fixed_band_lsh_admits_in_contract_input(spark, tiny_sf):
    assert dedup.neardup_embedding_lsh(spark, tiny_sf).count() >= 0


def test_bucket_scoring_chunked_matmul_is_exact(spark, planted_sf, monkeypatch):
    """The bucket-local scorer runs its matmul in row chunks so a skewed
    hot bucket can never allocate O(N²) scratch in one task. Chunking
    must not change a single pair or cosine: force a tiny chunk budget
    (step=1 at any realistic bucket size) and compare against the
    normal-budget run (the planted fixture guarantees ≥5 pairs)."""
    big = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup.neardup_embedding_lsh(spark, planted_sf).collect()
    }
    monkeypatch.setattr(dedup, "_SCORE_CHUNK_ELEMS", 1)
    small = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup.neardup_embedding_lsh(spark, planted_sf).collect()
    }
    assert small == big and len(big) >= 5


# ---------------------------------------------------------------------------
# N-adaptive LSH (the fix for the 68.9x super-linear growth the scale
# curve measured on the fixed-parameter neardup_embedding_lsh)
# ---------------------------------------------------------------------------


def test_auto_lsh_params_scaling_law():
    """bits must grow ~log2(N) (per-band candidate counts stay
    ~linear) and bands must hold the closed-form planted-dup recall
    ≥ RECALL_TARGET at every N, while growing only polynomially
    (the ~N^0.22 hyperplane-LSH exponent, i.e. total work ~N^1.22 —
    sub-quadratic by construction)."""
    import math

    p = 1.0 - math.acos(dedup.RECALL_COSINE) / math.pi
    rho = math.log(1.0 / p) / math.log(2)
    prev_bits = 0
    for n in (1, 1_000, 100_000, 10_000_000, 10_000_000_000, 10**13):
        bands, bits = dedup._auto_lsh_params(n)
        assert bits >= prev_bits, "bits must be monotone in N"
        prev_bits = bits
        recall = 1.0 - (1.0 - p**bits) ** bands
        assert recall >= dedup.RECALL_TARGET, (n, bands, bits, recall)
        # bands bounded by the LSH exponent (×4 slack for the ceils)
        bound = 4 * max(1.0, (n / dedup.TARGET_BUCKET_ROWS)) ** rho
        assert bands <= bound, (n, bands, bound)
    # the law in numbers: 100 TB-ish N gets a far wider code than sf0.01
    assert dedup._auto_lsh_params(10**10)[1] - dedup._auto_lsh_params(2000)[1] >= 10


def test_recursive_cte_row_cap_sized_from_footer(spark, sf_dir):
    """Spark 4 caps recursive-CTE output at 10⁶ rows by default; the
    digit-hierarchy walks legitimately produce |part| × digits rows, so
    at 200 k parts (10× sf0.1; ``git show ffa0b7b:SCALE_CURVE_r08.json``) they
    died with RECURSION_ROW_LIMIT_EXCEEDED. The operators must size the
    cap from the parquet footer BEFORE running: with the cap forced
    below the walk's row count, calling the operator must raise it back
    above and succeed."""
    from simple_map_reduce_ruuner_spark.operators import sql4

    key = "spark.sql.cteRecursionRowLimit"
    saved = spark.conf.get(key)
    try:
        # sf0.001 has 200 parts x ~4 digit-levels ≈ 1k walk rows; a cap
        # of 10 would kill the recursion if the operator didn't resize
        spark.conf.set(key, "10")
        out = sql4.part_hierarchy_rollup(spark, sf_dir)
        assert out.count() > 0
        assert int(spark.conf.get(key)) >= 200 * 20
        # never lowers an already-larger configured value
        spark.conf.set(key, "99999999")
        sql4.part_tree_revenue(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        assert int(spark.conf.get(key)) == 99999999
    finally:
        spark.conf.set(key, saved)


def test_recursion_row_cap_does_not_ratchet(spark, sf_dir, tmp_path):
    """Our OWN earlier raise must not become the floor for later calls
    (review-found: max(current, …) ratcheted monotonically, silently
    weakening the runaway-recursion guard session-wide). After sizing
    for a big input, sizing for a small one must bring the cap back
    down toward the pre-existing value — while a user-set value between
    the two calls is still respected as the new baseline."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_map_reduce_ruuner_spark.operators import sql4

    key = "spark.sql.cteRecursionRowLimit"
    saved = spark.conf.get(key)
    big_dir = tmp_path / "big"
    big_dir.mkdir()
    pq.write_table(
        pa.table({"p_partkey": pa.array(range(200_000), pa.int64())}),
        big_dir / "part.parquet",
    )
    try:
        spark.conf.set(key, "1000000")
        sql4._size_recursion_row_limit(spark, str(big_dir))
        assert int(spark.conf.get(key)) == 200_000 * 20
        # small input right after: cap returns to the pre-set baseline,
        # not the 4M our big-input call set
        sql4._size_recursion_row_limit(spark, sf_dir)
        assert int(spark.conf.get(key)) == 1_000_000
    finally:
        spark.conf.set(key, saved)


@pytest.fixture()
def planted_sf(tmp_path):
    """64-dim embeddings: 40 seeded random vectors plus 5 planted EXACT
    duplicate pairs (cosine 1.0 — always co-banded, so their recall is
    deterministic, not statistical)."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [rng.standard_normal(64).astype(np.float32) for _ in range(40)]
    ids = list(range(40))
    for i in range(5):  # ids 100+i duplicate ids i exactly
        ids.append(100 + i)
        vecs.append(vecs[i])
    _write(
        tmp_path,
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
    )
    return str(tmp_path)


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_auto_lsh_matches_generated_oracle(spark, sf):
    """The N-adaptive variant's oracle is GENERATED for a given table
    size (params come from the footer N); full driver-style parity at
    both local gate sizes — this is the r8 registration pre-check."""
    from tests._oracle import compare, duck_connect

    from simple_map_reduce_ruuner_spark.operators.dedup import (
        _parquet_row_count,
        neardup_embedding_lsh_auto,
        neardup_embedding_lsh_auto_sql,
    )

    n = _parquet_row_count(f"{sf}/embeddings.parquet")
    got = compare(
        neardup_embedding_lsh_auto(spark, sf),
        duck_connect(sf).execute(neardup_embedding_lsh_auto_sql(n)).df(),
    )
    assert got["cols_match"] and got["values_match"], got


def test_auto_lsh_finds_planted_dups_and_scores_exactly(spark, planted_sf):
    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup.neardup_embedding_lsh_auto(spark, planted_sf).collect()
    }
    # every planted exact-duplicate pair shares every band -> recalled
    for i in range(5):
        assert (i, 100 + i) in got
        assert got[(i, 100 + i)] == 1.0
    # candidates are scored with the anchor's exact kernel: the auto
    # variant's pairs are a SUBSET of the all-pairs anchor with
    # identical cosines (LSH approximates recall, never values)
    anchor = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup.neardup_embedding(spark, planted_sf).collect()
    }
    assert set(got) <= set(anchor)
    assert all(anchor[k] == v for k, v in got.items())


# ---- SemDeDup adaptive-K twin (clustering.py) ----


def test_semdedup_fixed_k_refuses_oversized_input(spark, tiny_sf, monkeypatch):
    from simple_map_reduce_ruuner_spark.operators import clustering

    monkeypatch.setattr(clustering, "MAX_FIXED_K_VECTORS", 2)
    with pytest.raises(ValueError, match="semdedup_pairs_auto"):
        clustering.semdedup_pairs(spark, tiny_sf)


def test_semdedup_fixed_k_admits_in_contract_input(spark, tiny_sf):
    from simple_map_reduce_ruuner_spark.operators import clustering

    # 3 vectors is far inside the fence — construction must succeed
    clustering.semdedup_pairs(spark, tiny_sf)


def test_semdedup_k_auto_floors_at_gate_sizes():
    """K must stay 16 for every driver-gate N (the twin is value-
    identical to the fixed form exactly where the gate hash-compares
    both) and grow ~√N beyond."""
    from simple_map_reduce_ruuner_spark.operators.clustering import K, _k_auto

    assert _k_auto(50) == K and _k_auto(500) == K and _k_auto(512) == K
    assert _k_auto(20_000) == 100
    assert _k_auto(200_000) == 316


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_semdedup_auto_matches_generated_oracle(spark, sf):
    """Driver-style parity for the adaptive twin at both local gate
    sizes (the registration pre-check, mirroring the lsh_auto one)."""
    from tests._oracle import compare, duck_connect

    from simple_map_reduce_ruuner_spark.operators.clustering import (
        semdedup_pairs_auto,
        semdedup_pairs_auto_sql,
    )
    from simple_map_reduce_ruuner_spark.operators.dedup import (
        _parquet_row_count,
    )

    n = _parquet_row_count(f"{sf}/embeddings.parquet")
    got = compare(
        semdedup_pairs_auto(spark, sf),
        duck_connect(sf).execute(semdedup_pairs_auto_sql(n)).df(),
    )
    assert got["cols_match"] and got["values_match"], got
