"""shredder_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
fixed-width→Avro/Kafka ETL tool (Ignalina/shredder, surveyed in
SURVEY.md) on top of the Spark DataFrame/SQL/Structured-Streaming
stack, extended with a relational query surface and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal
columns).

Design tenets (see SURVEY.md §7):
- Declarative DataFrame/SQL plans; Catalyst+Tungsten pick physical
  strategy. No RDDs, no driver-side row loops.
- UDFs only where built-ins can't express semantics, and then
  Arrow-batched (pandas_udf / mapInPandas), never row-at-a-time.
- Never collect to the driver inside an operator; never buffer whole
  files (the reference's whole-file RAM buffer is deliberately not
  reproduced — Spark streams input splits).
"""

__version__ = "0.1.0"

from shredder_spark.utils import skip_unchanged_zip_rereads

skip_unchanged_zip_rereads()  # every worker running our code imports this

from shredder_spark.session import get_spark  # noqa: F401,E402
from shredder_spark.catalog import TABLES, register_views  # noqa: F401,E402
