"""knowledge_graph_etl_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of viaacode/knowledge-graph-etl.

The reference is an Airflow ETL that direct-maps JSON into an RDF quad
store and materializes a clean target graph with 16 SPARQL INSERT mapping
queries (SURVEY.md). This package re-expresses that, Spark-first:

  * :mod:`.terms`      — RDF term model + quad schema
  * :mod:`.store`      — partitioned quad store (named graphs = partitions)
  * :mod:`.ingest`     — JSON→triples direct mapping (Arrow-batched)
  * :mod:`.operators`  — BGP / OPTIONAL / EXISTS / BIND / CONSTRUCT
  * :mod:`.functions`  — the SPARQL scalar-function set
  * :mod:`.sources`    — N-Triples & JSON sources/sinks
  * :mod:`.mappings`   — the 16 mapping queries as DataFrame programs
  * :mod:`.pipeline`   — full-refresh lifecycle runner
  * :mod:`.extensions` — beyond-reference ops: dedup, similarity search,
    text analysis, multimodal plumbing
  * :mod:`.zipcache`   — stops Python workers re-reading ``pyspark.zip``
    on every task; installed on import
"""

from . import zipcache

zipcache.install()

from .ingest import json_to_quads, parse_document, parse_json_text, quadify
from .operators import BGP, Var, construct, pattern, star_scan
from .store import GraphStore
from .terms import QUAD_COLUMNS, QUAD_SCHEMA, Term, bnode, iri, literal

__all__ = [
    "BGP",
    "GraphStore",
    "QUAD_COLUMNS",
    "QUAD_SCHEMA",
    "Term",
    "Var",
    "bnode",
    "construct",
    "iri",
    "json_to_quads",
    "literal",
    "parse_document",
    "parse_json_text",
    "pattern",
    "star_scan",
    "quadify",
]
