"""Streaming LSH near-dup ingest (streaming/neardup.py) must be
batch-equivalent: the stream whose state is the (band, band_sig) →
min-doc index, fed corpus-then-incoming, produces exactly
``neardup_incremental_lsh``'s verdicts. Also pins the per-row banding
against the batch ``_minhash_wide`` aggregation it must replicate."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators.dedup import (
    INCR_MOD,
    INCR_REM,
    N_BANDS,
    N_PERMS,
    neardup_incremental_lsh,
)
from simple_map_reduce_ruuner_spark.sources.tables import load_table
from simple_map_reduce_ruuner_spark.streaming.neardup import (
    DOCS_DDL,
    banded_rows,
    rollup_verdicts,
    stream_neardup_incremental,
)


def test_per_row_banding_matches_minhash_wide(spark, sf_dir):
    """array_min over per-row permutations == the groupBy MIN the batch
    pipeline aggregates, for every (doc, band)."""
    from simple_map_reduce_ruuner_spark.operators.dedup import _minhash_wide

    rows_per_band = N_PERMS // N_BANDS
    wide = _minhash_wide(spark, sf_dir)
    expected = wide.select(
        "doc_id",
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias(f"b{b}")
            for b in range(N_BANDS)
        ],
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = banded_rows(docs)
    exp_rows = {
        (r["doc_id"], b): r[f"b{b}"]
        for r in expected.collect()
        for b in range(N_BANDS)
    }
    got_rows = {(r["doc_id"], r["band"]): r["sig_key"] for r in got.collect()}
    assert got_rows == exp_rows


def test_stream_equals_batch_operator(spark, sf_dir, tmp_path):
    """Corpus staged in micro-batch 1, incoming in micro-batch 2 (two
    files, maxFilesPerTrigger=1, one availableNow run): the rolled-up
    stream output must equal the batch operator row for row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_stream"
    corpus = docs.where(F.col("doc_id") % INCR_MOD != INCR_REM)
    incoming = docs.where(F.col("doc_id") % INCR_MOD == INCR_REM)
    corpus.coalesce(1).write.parquet(str(src))
    incoming.coalesce(1).write.mode("append").parquet(str(src))

    captured: list = []

    def sink(batch_df, batch_id):
        captured.append(batch_df.toPandas())

    q = (
        stream_neardup_incremental(
            spark, str(src), reader_options={"maxFilesPerTrigger": "1"}
        )
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    hits = pd.concat(captured, ignore_index=True)
    got = {
        r["doc_id"]: (r["status"], r["match_doc_id"], r["n_band_hits"])
        for r in rollup_verdicts(
            spark.createDataFrame(hits.astype({"corpus_doc_id": "object"}),
                                  "doc_id long, band int, corpus_doc_id long")
        ).collect()
    }
    want = {
        r["doc_id"]: (r["status"], r["match_doc_id"], r["n_band_hits"])
        for r in neardup_incremental_lsh(spark, sf_dir).collect()
    }
    assert got == want


def test_late_corpus_doc_is_invisible_to_earlier_probe(spark, tmp_path):
    """The documented streaming divergence: a corpus doc arriving AFTER
    an incoming doc's micro-batch does not retro-classify it — but a
    corpus doc in the SAME micro-batch does (corpus-first within a
    batch)."""
    text = "alpha beta gamma delta epsilon zeta"
    inc_id = INCR_REM  # % INCR_MOD == INCR_REM -> incoming
    same_batch_corpus = INCR_MOD  # corpus slice
    late_corpus = 2 * INCR_MOD
    src = tmp_path / "late_stream"
    mk = lambda rows: spark.createDataFrame(rows, DOCS_DDL)
    # batch 1: incoming + one identical corpus doc (same batch)
    mk([(inc_id, text), (same_batch_corpus, text)]).coalesce(1).write.parquet(
        str(src)
    )
    # batch 2: a smaller-id identical corpus doc, too late
    mk([(late_corpus, text)]).coalesce(1).write.mode("append").parquet(str(src))

    captured: list = []
    q = (
        stream_neardup_incremental(
            spark, str(src), reader_options={"maxFilesPerTrigger": "1"}
        )
        .writeStream.foreachBatch(
            lambda df, _id: captured.append(df.toPandas())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    hits = pd.concat(captured, ignore_index=True)
    # the incoming doc matched the SAME-batch corpus doc on every band
    assert set(hits["doc_id"]) == {inc_id}
    assert (hits["corpus_doc_id"] == same_batch_corpus).all()
    assert len(hits) == N_BANDS
