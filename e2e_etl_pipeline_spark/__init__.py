"""e2e_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (tarnowsky/e2e-etl-pipeline,
surveyed in /root/repo/SURVEY.md), extended with the relational / streaming /
LLM-data-pipeline operator surface mandated by the build plan (SURVEY.md §2
Part B, §7).

Design principles (SURVEY.md §3.4, §4.2):
  * DataFrame / Spark SQL first — the logical plan IS Catalyst's; no custom IR.
  * Built-in column expressions over UDFs so whole-stage codegen applies.
  * Pandas UDFs (Arrow-batched) only where built-ins genuinely can't express
    the semantics (HTML parsing, multimodal decode).
  * Every operator designed for 100 TB scale: broadcast small dims, partial
    aggregation, partition pruning, AQE skew handling.
"""

__version__ = "0.1.0"

from e2e_etl_pipeline_spark.session import get_session  # noqa: F401
from e2e_etl_pipeline_spark.catalog import TABLES, load_table  # noqa: F401
