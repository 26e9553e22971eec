"""The engine's registered query surface.

Importing this package populates :data:`aws_lakehouse_spark.registry.
REGISTRY` with every declared query: the SURVEY §2 operator inventory
(core relational + scalar functions + event-time windows), the
medallion pipeline queries, and the LLM training-data extensions
(dedup / similarity / text analysis / multimodal).

The registry keeps registration order; callers select queries by
name.
"""

from aws_lakehouse_spark.plans import (  # noqa: F401
    core,
    core_ext,
    formats,
    scalar,
    events_windows,
    medallion,
    sql_surface,
    stats,
    timeseries,
    quality,
    drift,
    geo,
    tpch,
    tpch2,
    tpch3,
    graph,
    llm_text,
    behavior,
    retrieval,
    llm_dedup,
    llm_similarity,
    llm_semantic,
    multimodal,
)

from aws_lakehouse_spark.registry import REGISTRY

__all__ = ["REGISTRY"]
