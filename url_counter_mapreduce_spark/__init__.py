"""spark-graft: a PySpark-native analytics engine with the capability surface
of tabVersion/URL_counter_mapreduce (see SURVEY.md).

The reference is a ~520-LoC Go MapReduce pipeline whose single query is
"count every URL across many text files, report the top-100". This package
re-expresses that capability — and a much wider relational + LLM-data-pipeline
surface — as idiomatic Spark DataFrame plans, letting Catalyst/Tungsten own
scheduling, shuffle, spill and codegen (the ~80% of the reference's code that
Spark subsumes; SURVEY.md §3.4, §4.2).

Public API:
    from url_counter_mapreduce_spark import get_spark, load_table, QUERIES, ORACLES

``clear_caches(spark)`` releases everything the session's ledger holds:
the persisted artifacts (MinHash signatures, verified pairs, substring
windows, CDC chunks, SCC labels, perceptual fingerprints, IVF indexes, the
PCA frame) and the queries' checkpoints. Long-lived sessions that sweep
many corpora call it between corpora; each artifact family is also
LRU-bounded on its own.
"""

from .session import get_spark
from .tables import TABLES, load_table, register_views
from .registry import QUERIES, ORACLES
from .ledger import clear_caches


__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "register_views",
    "clear_caches",
    "QUERIES",
    "ORACLES",
]

__version__ = "0.1.0"
