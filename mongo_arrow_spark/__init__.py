"""mongo_arrow_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of mongodb-labs/mongo-arrow (PyMongoArrow).

The reference is a client-side columnar export/import library: it forwards
MQL queries/pipelines to a MongoDB server and decodes the BSON result stream
into Arrow tables (reference: bindings/python/pymongoarrow/api.py:129-256).
This engine supplies the same surface natively on Spark:

- ``Collection`` / ``find_*_all`` / ``aggregate_*_all``: the reference API
  re-expressed over DataFrames (reference api.py + monkey.py).
- ``mql``: MQL filter documents and aggregation pipelines translated to
  Catalyst DataFrame plans (the capability the reference delegates to the
  MongoDB server via its ``pipeline`` passthrough, api.py:252).
- ``Schema``: the dual explicit/inferred schema front-end
  (reference schema.py, types.py).
- ``sources``: partitioned document (JSON-lines) reader/writer with
  projection + filter pushdown (the role of lib.pyx's BSON->Arrow decoder).
- ``operators``: 100 TB-scale extension operators — dedup (exact / MinHash
  LSH / SimHash / n-gram Jaccard), similarity search, text analysis,
  multimodal column plumbing.
"""

from mongo_arrow_spark.execution import guard_zip_imports

guard_zip_imports()

from mongo_arrow_spark.errors import (  # noqa: E402
    MongoArrowSparkError,
    MQLTranslationError,
    SchemaError,
    ArrowWriteError,
)
from mongo_arrow_spark.schema import Schema
from mongo_arrow_spark.session import get_spark
from mongo_arrow_spark.api import (
    Collection,
    CappedCollection,
    natural_order,
    find,
    aggregate,
    find_arrow_all,
    find_pandas_all,
    find_numpy_all,
    find_polars_all,
    aggregate_arrow_all,
    aggregate_pandas_all,
    aggregate_numpy_all,
    aggregate_polars_all,
    write,
)
from mongo_arrow_spark.result import ArrowWriteResult

__version__ = "0.1.0"

__all__ = [
    "Collection",
    "CappedCollection",
    "natural_order",
    "Schema",
    "ArrowWriteResult",
    "MongoArrowSparkError",
    "MQLTranslationError",
    "SchemaError",
    "ArrowWriteError",
    "get_spark",
    "find",
    "aggregate",
    "find_arrow_all",
    "find_pandas_all",
    "find_numpy_all",
    "find_polars_all",
    "aggregate_arrow_all",
    "aggregate_pandas_all",
    "aggregate_numpy_all",
    "aggregate_polars_all",
    "write",
]
