"""Engine facade: the PySpark-native replacement for the reference's
SPARQL-endpoint hook.

Where the reference POSTs update text to Stardog
(reference sparql_update.py:77-106) and lets the external store execute
it, ``Engine.update`` parses the same text and executes it as DataFrame
plans over the local quad store: parse → algebra → compile → Catalyst
(SURVEY.md §3 entry point 2).

File-vs-inline query resolution mirrors the reference hook
(sparql_update.py:85-90 / load_knowledge_graph.py:186-193): if the string
names an existing ``.sparql`` file, its contents are used.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .ingest import json_to_quads
from .plans.compiler import (
    compile_ask,
    compile_construct,
    compile_describe,
    compile_insert_where,
    compile_select,
    execute_update,
)
from .plans.parser import (
    AskQuery,
    ConstructQuery,
    DescribeQuery,
    InsertWhere,
    SelectQuery,
    parse_query,
    parse_update,
)
from .store import GraphStore

SOURCE_NS = "https://data.hetarchief.be/ns/source/"
GRAPH_NS = "https://data.hetarchief.be/graph/"


class Engine:
    """A quad store plus the SPARQL-Update execution path. Without
    ``store_path`` the store makes its own temp directory, which
    ``engine.store.close()`` and interpreter exit remove."""

    def __init__(self, spark: SparkSession, store_path: str | None = None):
        from .federation import ServiceRegistry

        self.spark = spark
        self.store = GraphStore(spark, store_path)
        #: engine-scoped SERVICE registry (see register_service)
        self._services = ServiceRegistry()

    def _compile_ctx(self):
        from .federation import active_registry

        return active_registry(self._services)

    # -- federation -------------------------------------------------------

    def register_service(self, iri: str, target) -> None:
        """Make ``SERVICE <iri> { ... }`` resolve to ``target`` (another
        Engine, a GraphStore, or a zero-arg callable returning a quads
        DataFrame) in THIS engine's queries only — the registration is
        engine-scoped (the process-global fallback is
        :func:`.federation.register_service`); see :mod:`.federation`."""
        self._services.register(iri, target)

    def unregister_service(self, iri: str) -> None:
        """Remove an engine-scoped SERVICE registration (no-op if the IRI
        was never registered on this engine)."""
        self._services.unregister(iri)

    # -- update path ------------------------------------------------------

    @staticmethod
    def _resolve(query: str) -> str:
        if query.strip().endswith(".sparql") and os.path.isfile(query.strip()):
            with open(query.strip(), encoding="utf-8") as f:
                return f.read()
        return query

    def update(self, query: str) -> None:
        """Execute one SPARQL Update (inline text or path to a .sparql file)."""
        with self._compile_ctx():
            execute_update(parse_update(self._resolve(query)), self.store)

    # -- read path --------------------------------------------------------

    def select(self, query: str, with_terms: bool = False) -> DataFrame:
        """Execute a SPARQL SELECT over the quad store → DataFrame with one
        column per projected variable (``with_terms=True`` adds the
        ``__type/__dt/__lang`` term companions).

        Read-side entry the reference never needed (its workload is 100%
        update — sparql_update.py:94-95 warns on non-updates) but the first
        thing a user pointing an analytics engine at a quad store runs;
        compiles through the same algebra as the updates
        (projection/DISTINCT/ORDER/LIMIT/OFFSET added in plans.compiler)."""
        node = parse_query(self._resolve(query))
        if not isinstance(node, SelectQuery):
            raise ValueError("select() needs a SELECT query; use ask()/update()")
        with self._compile_ctx():
            return compile_select(node, self.store, with_terms=with_terms)

    def select_json(self, query: str) -> dict:
        """SPARQL SELECT → the W3C SPARQL 1.1 Query Results JSON envelope
        (``{"head": {"vars": [...]}, "results": {"bindings": [...]}}``) —
        the protocol-level interop format; see :mod:`.results` for the
        distributed per-solution form."""
        from .results import sparql_results_json

        return sparql_results_json(self.select(query, with_terms=True))

    def ask(self, query: str) -> bool:
        """SPARQL ASK → bool (the compiled plan is LIMIT 1 — Catalyst
        short-circuits the scan)."""
        node = parse_query(self._resolve(query))
        if not isinstance(node, AskQuery):
            raise ValueError("ask() needs an ASK query; use select()/update()")
        with self._compile_ctx():
            return len(compile_ask(node, self.store).take(1)) > 0

    def construct_query(self, query: str) -> DataFrame:
        """SPARQL CONSTRUCT → quads DataFrame (read-side; the triples are
        returned, not inserted — ``g`` NULL for default-graph template
        triples, the GRAPH IRI for GRAPH template blocks). Completes the
        read surface next to select()/ask(); same template machinery as
        INSERT..WHERE including unbound-skip and fresh template bnodes."""
        node = parse_query(self._resolve(query))
        if not isinstance(node, ConstructQuery):
            raise ValueError(
                "construct_query() needs a CONSTRUCT query; use select()/ask()/update()"
            )
        with self._compile_ctx():
            return compile_construct(node, self.store)

    def describe(self, query: str) -> DataFrame:
        """SPARQL DESCRIBE → quads DataFrame (outgoing arcs of the
        described resources; constant IRIs and/or WHERE-bound variables)."""
        node = parse_query(self._resolve(query))
        if not isinstance(node, DescribeQuery):
            raise ValueError("describe() needs a DESCRIBE query")
        with self._compile_ctx():
            return compile_describe(node, self.store)

    def explain(self, query: str) -> str:
        """Formatted physical plan of a read query (SELECT/ASK/CONSTRUCT/
        DESCRIBE) without executing it — the EXPLAIN surface: shows the
        partition pruning, pushed filters, join strategies and the join
        order the engine chose."""
        node = parse_query(self._resolve(query))
        with self._compile_ctx():
            if isinstance(node, SelectQuery):
                df = compile_select(node, self.store)
            elif isinstance(node, AskQuery):
                df = compile_ask(node, self.store)
            elif isinstance(node, ConstructQuery):
                df = compile_construct(node, self.store)
            elif isinstance(node, DescribeQuery):
                df = compile_describe(node, self.store)
            else:
                raise ValueError(f"cannot explain {type(node).__name__}")
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def plan(
        self,
        query: str,
        materialize: bool = False,
        carry: list[str] | None = None,
    ) -> DataFrame:
        """Compile an INSERT..WHERE to its output-quads DataFrame without
        executing the insert (for EXPLAIN/testing).

        ``carry``: WHERE-variable names projected verbatim onto every
        output quad row — the provenance hook the incremental pipeline
        uses to attribute each derived quad to its derivation group
        (mappings/pipeline.py ledger machinery).

        ``materialize=True`` eagerly checkpoints the WHERE result exactly
        as ``update`` would — callers that go on to EXECUTE the returned
        quads (e.g. incremental pipeline maintenance computing
        stale/fresh derivations) want that: without it a 16-triple
        template instantiates one projection per triple over an
        unmaterialized deep join tree, and the combined plan is too large
        even to analyze (measured driver OOM in plan-string generation)."""
        node = parse_update(self._resolve(query))
        if not isinstance(node, InsertWhere):
            raise ValueError("plan() only applies to INSERT ... WHERE")
        # materialize=False default: compiling for EXPLAIN must not
        # execute the WHERE join tree as a checkpoint side effect
        with self._compile_ctx():
            return compile_insert_where(
                node, self.store, materialize=materialize, carry=carry
            )

    # -- ingest path ------------------------------------------------------

    def load_json(
        self,
        docs: DataFrame,
        graph: str,
        json_col: str = "json",
        id_col: str = "doc_id",
        namespace: str = SOURCE_NS,
    ) -> None:
        """Extract-and-insert: JSON documents → direct-mapped triples in a
        staging graph (reference load_knowledge_graph.py:138-158, but bulk
        partition appends instead of one INSERT round trip per record)."""
        self.store.insert(
            json_to_quads(docs, graph, json_col=json_col, id_col=id_col, namespace=namespace),
            target_graphs=[graph],
        )
