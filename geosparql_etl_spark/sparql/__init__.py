"""SPARQL query layer over triple-shaped DataFrames.

The reference emits GeoSPARQL RDF (``utils/rdf_utils.py``,
``mongo-etl/mongodb_to_rdf.py:304-357``) but has no way to QUERY what it
wrote — consumers are expected to load the TTL into an external triple
store. This package closes that loop Spark-first: a triples DataFrame
``(s, p, o)`` is the storage model (the same frame the ntriples source
reads and the render operators group), and a SPARQL SELECT subset
compiles onto it as Catalyst-planned self-joins.

Design follows the published SPARQL-on-Spark literature (S2RDF,
SPARQLGX, Sempala — vertical partitioning by predicate + BGP-to-join
compilation), not the reference's row loops.

Each store caches its compiled plans (``sparql_select``): a bounded LRU
living on the store object, keyed on the query text and the session
confs analysis bakes into a plan. A hit skips parse, compile and
analysis only; every call still re-optimizes, re-plans and re-executes.
Live stores (``NTriplesLakeStore``), SERVICE queries, queries calling
BNODE/NOW/UUID/STRUUID, ``+``/``*``/``{n,m}`` property paths while no
checkpoint dir is set (their closure is a ``localCheckpoint``), and
``sparql_update`` compile on every call.
``tpch_store`` is memoized per ``sf_dir``, so repeated runs of one query
over it hit after the first.
"""

from geosparql_etl_spark.sparql.compiler import (
    parse_query,
    register_service,
    sparql_select,
    sparql_update,
    unregister_service,
)
from geosparql_etl_spark.sparql.triples import (
    NTriplesLakeStore,
    TripleStore,
    tpch_store,
    tpch_triples,
)

__all__ = [
    "NTriplesLakeStore",
    "TripleStore",
    "tpch_store",
    "tpch_triples",
    "parse_query",
    "register_service",
    "sparql_select",
    "sparql_update",
    "unregister_service",
]
