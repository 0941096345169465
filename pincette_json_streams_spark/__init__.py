"""pincette-json-streams-spark — a PySpark-native declarative JSON pipeline engine.

A brand-new engine with the query and data-processing capabilities of
json-event-sourcing/pincette-json-streams (reference surveyed in SURVEY.md):
MongoDB-aggregation-language pipelines over streams and tables, compiled to
Spark DataFrame plans (batch) and Structured Streaming queries (streaming).

Architecture (Spark-first, NOT a port):
  - ``operators.expressions``  — Mongo aggregation *expression* language ->
    native Spark ``Column`` trees (Catalyst-optimizable; UDFs only where
    unavoidable).
  - ``operators.match``        — Mongo *query* language -> boolean ``Column``.
  - ``operators.stages``       — pipeline *stages* ($match, $project, $group,
    $lookup, ...) -> DataFrame transformations.
  - ``plans``                  — application spec (YAML/JSON, parameters,
    includes, validation) -> compiled plan of parts (stream/merge/join/
    aggregate) over a source catalog.
  - ``functions``              — large-scale training-data ops: dedup
    (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
    text analysis, multimodal column plumbing.
  - ``streaming``              — Structured Streaming runtime: sources/sinks,
    stateful operators (event-sourcing aggregate, $per, $deduplicate).
"""

__version__ = "0.1.0"

from pincette_json_streams_spark import plugins
from pincette_json_streams_spark.operators.expressions import compile_expr
from pincette_json_streams_spark.operators.match import compile_query
from pincette_json_streams_spark.operators.stages import (
    PipelineContext,
    compile_pipeline,
)
from pincette_json_streams_spark.plans.spec import (
    SpecError,
    load_application,
)
from pincette_json_streams_spark.plans.planner import Application
from pincette_json_streams_spark.sources.changelog import (
    ChangeLogCollection,
)
from pincette_json_streams_spark.sources.collections import CollectionStore

__all__ = [
    "compile_expr",
    "compile_query",
    "compile_pipeline",
    "load_application",
    "Application",
    "PipelineContext",
    "ChangeLogCollection",
    "CollectionStore",
    "plugins",
]
