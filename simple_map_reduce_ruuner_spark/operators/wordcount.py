"""Reference workloads 1+2: word frequency and character frequency.

Reference semantics (SURVEY.md §2.B B1-B6):
- word_count: whitespace tokenization (``cin >> str``,
  word_count/mapper.cpp:22-25), per-chunk partial count
  (mapper.cpp:16,23-25), global merge-sum (reducer.cpp:16,24-26).
- char_count: every character except newline (char_count/mapper.py:8-15),
  partial + final count (reduce.py:9-15).

Spark expresses the whole chunk-partial → global-final contract as one
``groupBy().count()`` — Catalyst plans a partial HashAggregate before the
exchange and a final one after, which is exactly the reference's
mapper-combiner + reducer-merge split, minus the hand-rolled HTTP plumbing.
At 100 TB the shuffle carries only (token, partial_count) pairs — the
cardinality of the vocabulary per partition, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.text import (
    explode_chars,
    explode_tokens,
)
from simple_map_reduce_ruuner_spark.sources.tables import load_table


def word_count_df(df: DataFrame) -> DataFrame:
    """(word, cnt) frequency of the ``text`` column's whitespace tokens,
    lowercased.

    Tokenization rides :func:`explode_tokens` (the one canonical
    split → explode → WHERE-empty codegen span — see its docstring for
    why the HOF ``filter`` form is avoided on hot paths)."""
    return (
        explode_tokens(df, out="word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def char_count_df(df: DataFrame) -> DataFrame:
    """(ch, cnt) frequency of the ``text`` column's characters (newline
    excluded), via the chars analogue :func:`explode_chars` (same
    codegen-span rationale)."""
    return (
        explode_chars(df)
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def char_count_kernel_df(df: DataFrame) -> DataFrame:
    """(ch, cnt) — value-identical to :func:`char_count_df`, computed as
    a per-partition Arrow kernel instead of a corpus×chars explode.

    The explode form pushes one ROW PER CHARACTER through codegen and a
    partial aggregate — ~4.5 B rows at the 100× sweep, 31.2 s, and the
    highest per_unit (0.59) of the curve's top rows. Counting
    characters is a bincount: each task joins its batch's strings,
    reinterprets them as UTF-32 code points, and accumulates one
    np.bincount per batch into a partition-local 0x110000-slot int64
    array (8.9 MB). What crosses the wire afterwards is one
    alphabet-sized (ch, cnt) partial per partition — the same
    mapper-combiner → reducer-merge contract as the explode plan
    (char_count/mapper.py:8-15, reduce.py:9-15), with the combine in
    numpy instead of a generated HashAggregate. Code points ARE Python
    chars and ARE Spark's split('') units, so counts are exact; the
    newline exclusion drops slot 10 at emit instead of rewriting every
    string. Parity with the explode form is pinned by
    tests/test_mapreduce.py::test_char_count_kernel_matches_explode;
    the oracle keeps the unnest SQL.
    """
    import numpy as np
    import pandas as pd

    def count_chars(batches):
        acc = np.zeros(0x110000, dtype=np.int64)
        for b in batches:
            txt = "".join(b["text"].dropna().tolist())
            if not txt:
                continue
            cp = np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32)
            acc += np.bincount(cp, minlength=0x110000)
        acc[10] = 0  # newline excluded (char_count/mapper.py:8-15)
        nz = np.flatnonzero(acc)
        if not len(nz):
            return
        yield pd.DataFrame(
            {"ch": [chr(int(c)) for c in nz], "cnt": acc[nz]}
        )

    partials = df.select("text").mapInPandas(count_chars, "ch string, cnt long")
    return partials.groupBy("ch").agg(F.sum("cnt").alias("cnt"))


# ---- queries() bindings over the driver tables ----


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_count_df(load_table(spark, sf_dir, "documents"))


def char_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simple_map_reduce_ruuner_spark.sources.tables import spread_scan

    return char_count_kernel_df(spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id"))


WORD_COUNT_SQL = r"""
SELECT word, count(*) AS cnt
FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
    FROM documents
)
WHERE word <> ''
GROUP BY word
"""

CHAR_COUNT_SQL = r"""
SELECT ch, count(*) AS cnt
FROM (
    SELECT unnest(string_split(text, '')) AS ch
    FROM documents
)
WHERE ch <> '' AND ch <> chr(10)
GROUP BY ch
"""


def salted_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word_count through the two-phase salted aggregation (plans/skew.py):
    phase 1 groups by (word, salt) so a hot token spreads across reducers,
    phase 2 re-merges per word. Result is exactly word_count's (same
    oracle) — registered so the skew path is driver-verified, not only
    pytest-verified."""
    from simple_map_reduce_ruuner_spark.plans.skew import salted_aggregate

    docs = load_table(spark, sf_dir, "documents")
    exploded = explode_tokens(docs, out="word")
    out = salted_aggregate(exploded, ["word"], {"cnt": "count(1)"})
    return out.select("word", F.col("cnt").cast("long").alias("cnt"))
