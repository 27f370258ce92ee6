"""eventsgateway_spark — a PySpark-native event-stream analytics engine.

A from-scratch re-expression of the capabilities of
topfreegames/eventsgateway (reference at /root/reference, MIT): event
ingestion with validation/enrichment/routing, Avro-encoded transport,
streaming ETL into partitioned columnar tables, and a full SQL/DataFrame
analytics surface over those tables — plus the LLM-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal columns).

Architecture is Spark-first: logical plans are declared with the
DataFrame/SQL API and Catalyst/Tungsten pick the physical strategy. The
reference's Go concurrency machinery (buffered channels, micro-batchers,
retry loops — client/async.go) is *replaced* by Structured Streaming
primitives, not ported.
"""

import importlib

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "Engine", "__version__"]

# Exports resolve on first use (PEP 562), so importing a submodule, e.g.
# ``python -m eventsgateway_spark.worker_daemon``, loads no Spark session
# or engine code.
_LAZY = {"get_spark": "session", "stop_spark": "session", "Engine": "engine"}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{_LAZY[name]}"), name)
