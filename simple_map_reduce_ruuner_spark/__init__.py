"""simple_map_reduce_ruuner_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
educational distributed MapReduce runner ``ArminF1996/Simple-Map-Reduce-Ruuner``
(see SURVEY.md), re-expressed idiomatically on public Apache Spark APIs:

- DataFrame/SQL for all relational semantics (the reference's four golden
  workloads are algebraic aggregations — SURVEY.md §1.4 maps its
  chunk-partial → global-final contract 1:1 onto Spark's partial/final
  HashAggregate).
- SQL ``TRANSFORM`` for the reference's actual product surface:
  arbitrary external map/reduce programs (reference exec contract:
  Worker.java:134-160, Master.java:182-208); ``mapInPandas`` /
  ``applyInPandas`` for the Python kernels of individual queries.
- Structured Streaming for windowed/stateful processing over event streams.
- LLM-data-pipeline extensions: exact/near dedup, embedding similarity
  search, text analysis, multimodal column plumbing.

Every operator is designed for 100 TB scale (broadcast joins for small
dims, partial aggregation, sub-quadratic candidate generation for
similarity) and verified against a DuckDB oracle on deterministic Parquet
fixtures at small scale factors.
"""

from simple_map_reduce_ruuner_spark.session import get_spark
from simple_map_reduce_ruuner_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    load_tables,
    register_temp_views,
)

__all__ = [
    "get_spark",
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "register_temp_views",
]

__version__ = "0.1.0"
