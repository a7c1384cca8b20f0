"""picovdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the `wensheng/picovdb` reference
(filtered batch top-k cosine search + CRUD/persistence), generalized into
batch LLM-data-pipeline operators (dedup, similarity join, text analysis)
designed for cluster scale.

Everything is expressed DataFrame-first: logical plans are declared with
the PySpark DataFrame/SQL API so Catalyst handles pushdown, pruning and
join strategy; NumPy GEMM via `mapInArrow` is used only as the
vectorized fast path for the dense similarity scan.
"""

from picovdb_spark.schema import (
    K_ID,
    K_VECTOR,
    K_METRICS,
    vector_store_schema,
    load_table,
    load_embeddings_store,
)
from picovdb_spark.compat import PicoVectorDB
from picovdb_spark.operators.resident import ResidentGemmStore, ResidentIvfStore
from picovdb_spark.operators.similarity import batch_query
from picovdb_spark.session import get_spark
from picovdb_spark.sources import read_picovdb_store, write_picovdb_store
from picovdb_spark.store import VectorStore

__version__ = "0.1.0"

__all__ = [
    "K_ID",
    "K_VECTOR",
    "K_METRICS",
    "PicoVectorDB",
    "ResidentGemmStore",
    "ResidentIvfStore",
    "VectorStore",
    "batch_query",
    "get_spark",
    "vector_store_schema",
    "load_table",
    "load_embeddings_store",
    "read_picovdb_store",
    "write_picovdb_store",
]
