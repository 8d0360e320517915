"""insight_gp_import_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of ``palette-software/insight-gp-import`` (a Greenplum CSV
batch loader for the Palette Insight Tableau-monitoring suite), extended
with the operators a large-scale LLM training-data pipeline needs
(dedup, similarity search, multimodal columns, text analysis).

Design (see SURVEY.md for the full blueprint):

- **DataFrame-first.** Every operator is a declarative logical plan built
  with the public DataFrame/SQL API; Catalyst + AQE pick the physical
  strategy. No RDDs in the public surface.
- **Deterministic by protocol.** Every operator that is oracle-checked
  against DuckDB follows SURVEY.md §2.X: rounded doubles in the final
  projection, unique tie-break keys under every LIMIT, no raw
  arrays/structs in compared output, no RNG/clock/approx in oracled ops.
- **Scale-aware.** Broadcast hints for dimension joins, AQE everywhere,
  partitioned sinks, salting/bucketing; plan shapes are pinned in
  ``tests/test_plans.py``. Tested at sf0.001..0.1 locally, designed for
  100 TB.

NOTE: ``/root/reference`` is empty in this environment (SURVEY.md §0), so
docstrings cite the *driver contract* (__spark_entry__.py, TESTDATA.md,
BASELINE.md) and SURVEY.md sections instead of reference file:line.
"""

from insight_gp_import_spark.dedup import embed_dup_pairs, near_dup_pairs  # noqa: F401
from insight_gp_import_spark.registry import REGISTRY, op  # noqa: F401
from insight_gp_import_spark.session import get_session  # noqa: F401
from insight_gp_import_spark.tables import TABLES, load_table  # noqa: F401

__version__ = "0.1.0"
