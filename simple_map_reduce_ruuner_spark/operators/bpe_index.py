"""BPE tokenizer with a MATERIALIZED merge table — the build/probe split.

``textlm.bpe_encode_docs`` re-runs the k-iteration greedy merge chain on
every invocation (train+apply in one query — the correctness anchor, and
the most expensive addition of its round, 2.6 s on its first sf0.1
rep; ``git show ffa0b7b:BENCH_FULL_r15.json``).
A deployment trains once and tokenizes many corpora/batches with the
frozen merge table, exactly the way ``ivf.build_ivf_index`` amortizes
the N×C assignment pass. This module is that shape:

- :func:`build_bpe_merges` — the offline pass. Runs the shared
  ``textlm._bpe_state_chain`` ONCE and writes both of its products:

  * ``merges/`` — (step, left_sym, right_sym, cnt): the trained merge
    table, the artifact a tokenizer ships.
  * ``types/``  — (w, enc, wc): the final symbolization of every word
    type under those merges — the apply side needs only this lookup
    table, never the chain.

  Content-keyed (documents parquet size+mtime of every part, k, format
  version) with atomic rename + cross-session reuse via the SHARED
  ``sources.index_store.materialize_index`` (one implementation of the
  build-once contract for every index family — review-found: the first
  cut copied ivf.py's scaffold verbatim).

- :func:`bpe_merge_table` — reads ``merges/`` back. Oracle:
  ``BPE_TRAIN_MERGES_SQL`` replays all k steps from scratch —
  materialization can never change the trained table.

- :func:`bpe_encode_indexed` — tokenizes the corpus against ``types/``:
  one explode + one join on the word type + a per-doc aggregate; the
  merge chain never runs at encode time. Oracle:
  ``BPE_ENCODE_DOCS_SQL`` — byte-identical accounting to the inline
  anchor, pinned by test.

Reference parity note: the reference (`Master.java:174-208`) has no
tokenizer; north-star text-analysis extension (SURVEY.md §2.C13),
extending ``textlm.bpe_train_merges`` per the materialization pattern
the r14 verdict set for IVF.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators.dedup import _parquet_file_stats
from simple_map_reduce_ruuner_spark.operators.textlm import (
    BPE_ENCODE_DOCS_SQL,
    BPE_MERGES,
    BPE_TRAIN_MERGES_SQL,
    _bpe_state_chain,
    encode_against_types,
    merge_rows,
    type_token_counts,
)
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.index_store import materialize_index

INDEX_FORMAT_VERSION = 1
_MERGES_SCHEMA = "step long, left_sym string, right_sym string, cnt long"
_TYPES_SCHEMA = "w string, enc string, wc long"


def _index_key(sf_dir: str) -> str:
    """Content key: any change to the documents parquet (size/mtime of
    every part), the merge count, or the on-disk format invalidates.
    The separator byte is structural to the encoding, so it rides the
    format version (changing it changes the layout, not a knob)."""
    stats = _parquet_file_stats(os.path.join(sf_dir, "documents.parquet"))
    raw = json.dumps(
        [INDEX_FORMAT_VERSION, os.path.realpath(sf_dir), BPE_MERGES, stats]
    )
    return hashlib.md5(raw.encode()).hexdigest()


def build_bpe_merges(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (or reuse) the trained BPE merge table + final type
    symbolization for ``sf_dir`` under ``$SMRR_BPE_INDEX_DIR`` (default:
    the temp dir); returns the index directory.

    Cost shape: the k checkpointed merge iterations run ONCE per corpus
    content (vocabulary-bounded shuffles — see ``bpe_train_merges``);
    both writes read off the chain's last checkpointed state, so the
    chain is not re-derived between them. Every later invocation is a
    manifest stat call.
    """
    base = os.environ.get("SMRR_BPE_INDEX_DIR") or os.path.join(
        tempfile.gettempdir(), "smrr_bpe_index"
    )

    def write(scratch: str) -> None:
        merges, t = _bpe_state_chain(spark, sf_dir)
        merge_rows(merges).write.parquet(os.path.join(scratch, "merges"))
        t.select(
            "w", "enc", F.col("wc").cast("long").alias("wc")
        ).write.parquet(os.path.join(scratch, "types"))

    return materialize_index(
        base,
        _index_key(sf_dir),
        write,
        {
            "format_version": INDEX_FORMAT_VERSION,
            "k": BPE_MERGES,
            "sf_dir": os.path.realpath(sf_dir),
        },
    )


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table read straight off the materialized index
    (explicit schema: an empty corpus writes no part files and the
    probe must still answer empty). Verified against the full k-step
    from-scratch replay oracle — the materialization-changes-nothing
    gate."""
    path = build_bpe_merges(spark, sf_dir)
    return spark.read.schema(_MERGES_SCHEMA).parquet(
        os.path.join(path, "merges")
    )


def bpe_encode_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token accounting under the MATERIALIZED merge table —
    the deployment encode path: no merge chain at encode time, just
    (corpus explode) ⋈ (types lookup) + a per-doc aggregate, identical
    output contract to ``bpe_encode_docs`` (same oracle SQL).

    Scale shape: the types table is vocabulary-bounded (broadcastable
    at any realistic vocabulary; AQE picks the strategy from its actual
    size) and the doc pass is the one corpus-sized scan — for a 100 TB
    encode job this is a map-side join against a frozen few-MB asset,
    the industrial tokenizer shape.
    """
    path = build_bpe_merges(spark, sf_dir)
    types = spark.read.schema(_TYPES_SCHEMA).parquet(
        os.path.join(path, "types")
    )
    return encode_against_types(spark, sf_dir, type_token_counts(types))


QUERIES: dict[str, Query] = {
    "bpe_merge_table": Query(
        bpe_merge_table,
        BPE_TRAIN_MERGES_SQL,
        "trained BPE merge table read off the materialized index "
        "(oracle replays the full k-step training from scratch)",
    ),
    "bpe_encode_indexed": Query(
        bpe_encode_indexed,
        BPE_ENCODE_DOCS_SQL,
        "per-doc BPE token accounting against the materialized merge "
        "table — the amortized deployment encode path",
    ),
}
