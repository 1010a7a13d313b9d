"""cassowary_spark — a PySpark-native analytics engine.

A from-scratch engine with the query and data-processing capabilities
of ``richardalow/cassowary`` (Hive/Shark SQL over Cassandra SSTable
snapshots), re-expressed Spark-first:

- the relational surface the reference delegated to Hive/Shark is
  Spark SQL / DataFrame compositions (``cassowary_spark.queries``);
- the storage layer (SSTable scan, multi-version merge, tombstones)
  maps to a custom DataSource plus scan-time operators
  (``cassowary_spark.operators.versions``, ``cassowary_spark.sources``);
- streaming is Structured Streaming (``cassowary_spark.streaming``);
- LLM-data-pipeline extensions (dedup, similarity search, text
  analysis, multimodal columns) live in ``cassowary_spark.operators``.

Provenance: the reference checkout at /root/reference was empty at
build time (SURVEY.md §0); capability surface reconstructed from the
driver contract and public knowledge of cassowary/Hive/Cassandra.
"""

from cassowary_spark import session
from cassowary_spark.session import get_spark
from cassowary_spark.tables import TABLES, load_tables, register_views

# A Python worker imports this package when it unpickles any
# module-level function or class of it (the SSTable source, a UDF
# whose closure reaches a package helper), so this one call gates
# each such worker's zip re-reads.
session._stat_gate_zip_invalidation()

__all__ = ["get_spark", "load_tables", "register_views", "TABLES"]
__version__ = "0.1.0"
