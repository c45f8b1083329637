"""Python UDTF surface: a lateral table function agrees with its JVM
twin."""

from __future__ import annotations


def test_python_udtf_matches_jvm_explode(spark):
    """UDTF surface: a real Spark 4 Python UDTF (lateral table function)
    must agree with the JVM-side explode(split()) twin — and the twin is
    the production path (UDTFs cross the Python boundary per row-group;
    explode stays in codegen)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            for s in (text or "").split("."):
                s = s.strip()
                if s:
                    yield (s,)

    spark.udtf.register("split_sentences", SplitSentences)
    df = spark.createDataFrame(
        [
            (1, "One sentence. Two sentences.  Three."),
            (2, "No trailing dot here"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("udtf_docs")
    got = {
        (r.doc_id, r.sentence)
        for r in spark.sql(
            "SELECT d.doc_id, t.sentence"
            " FROM udtf_docs d, LATERAL split_sentences(d.text) t"
        ).collect()
    }
    twin = (
        df.select(
            "doc_id", F.explode(F.split(F.coalesce("text", F.lit("")), r"\.")).alias("s")
        )
        .select("doc_id", F.trim("s").alias("sentence"))
        .where(F.col("sentence") != "")
    )
    expected = {(r.doc_id, r.sentence) for r in twin.collect()}
    assert got == expected
    assert (1, "Two sentences") in got
