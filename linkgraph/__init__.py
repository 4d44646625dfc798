"""linkgraph — a from-scratch PySpark-native link-graph analytics engine.

Re-creates the query/data-processing capabilities of the public
`neo4j-contrib/neo4j-graph-algorithms` library (Neo4j 3.5.x "Graph
Algorithms", Apache-2.0) on idiomatic Spark: DataFrames + Catalyst for
everything relational, Arrow-vectorized pandas UDFs holding per-partition
CSR blocks for the sparse numeric inner loops, contribution shuffles that
combine per source block first (the blocks are the salt buckets, so a hub
gets at most one row per block), and per-superstep checkpointing with
lineage + metrics.

Reference parity map lives in SURVEY.md §2; each module's docstring cites
the reference files it re-expresses (paths relative to the reference repo;
no reference code was copied — the reference is a shared-memory Java
engine, this is a shuffle-based Spark engine).
"""

from linkgraph.graph import Graph
from linkgraph.loader import GraphLoader, subgraph
from linkgraph.results import run_write_proc
from linkgraph.session import get_spark

__version__ = "0.1.0"

__all__ = [
    "Graph", "GraphLoader", "subgraph", "get_spark", "run_write_proc",
    "__version__",
]
