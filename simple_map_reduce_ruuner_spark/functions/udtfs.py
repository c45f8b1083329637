"""Python UDTF surface (Spark 4 ``@udtf``): table functions usable in
lateral joins / ``SELECT ... FROM udtf(...)``.

The reference's entire extension surface is external-process map/reduce
programs (Master.java:80-81 ships mapper/reducer sources); the engine's
first-class equivalents are SQL ``TRANSFORM`` (mapreduce.py) and Arrow-batched
``mapInPandas``/``applyInPandas``. This module completes the trio with
the UDTF shape — one input row to N output rows with a typed schema.

Scale caveat, stated where users will read it: Python UDTFs execute
row-at-a-time in the Python worker, so for anything expressible with
built-ins you should prefer the JVM-side equivalent (e.g.
``explode(from_json(...))`` replaces ``ExplodeProps`` below and stays
inside whole-stage codegen). The UDTF is for logic that genuinely needs
per-row Python with multi-row output — and then the batch/stream plan
around it (partitioning, lateral join shape) is identical.
"""

from __future__ import annotations

import json

from pyspark.sql.functions import udtf


@udtf(returnType="key string, value string")
class ExplodeProps:
    """(props_json) -> one row per key: the UDTF twin of the JVM-side
    ``explode(from_json(props, 'map<string,string>'))`` (which is what
    props_json_stats uses in the hot path — relational4.py)."""

    def eval(self, props: str):  # noqa: D102 — contract defined by Spark
        if not props:
            return
        try:
            parsed = json.loads(props)
        except ValueError:
            return
        if isinstance(parsed, dict):
            for k, v in sorted(parsed.items()):
                # render exactly like the JVM map<string,string> twin:
                # strings bare, null as NULL, everything else as its
                # JSON text (str() gave Python's 'True'/'None' —
                # review-found divergence on boolean/null props)
                if v is None:
                    out = None
                elif isinstance(v, str):
                    out = v
                else:
                    out = json.dumps(v)
                yield str(k), out


@udtf(returnType="term string, pos int")
class PosTokens:
    """(text) -> (token, position) rows — the positional-tokenizer shape
    (posting with positions); JVM twin: ``posexplode(split(...))``."""

    def eval(self, text: str):  # noqa: D102
        if not text:
            return
        pos = 0
        for tok in text.lower().split():
            if tok:
                yield tok, pos
                pos += 1


def register_udtfs(spark) -> None:
    """Register both UDTFs for SQL use:
    ``SELECT e.event_id, p.key, p.value FROM events e,
    LATERAL explode_props(e.props) p``."""
    spark.udtf.register("explode_props", ExplodeProps)
    spark.udtf.register("pos_tokens", PosTokens)
