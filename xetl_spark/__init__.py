"""xetl_spark — a PySpark-native analytics/pipeline engine.

Re-implements the capability surface of the reference orchestrator
(sebmartin/xETL, surveyed in the repository's SURVEY.md) Spark-first:

- ``xetl_spark.plans``   — YAML Job/Command/Task pipeline models with the
  reference's env-inheritance + placeholder-resolution semantics
  (reference: xetl/models/job.py, command.py, task.py), where a *task* is a
  DataFrame transform instead of a subprocess.
- ``xetl_spark.operators`` — the relational / dataflow operator library
  (joins incl. as-of & range, dedup incl. MinHash-LSH, similarity search,
  text analysis) designed for 100 TB scale: shuffle-aware, broadcast-aware,
  no driver-side collects.
- ``xetl_spark.sources`` / ``sinks`` — batch + streaming readers/writers.
- ``xetl_spark.functions`` — scalar/vector helpers (JVM-side expressions
  first; Pandas UDFs only where built-ins can't express the semantics).
- ``xetl_spark.queries`` — the declared, oracle-verified query inventory
  (SURVEY.md §2-B contract).
"""

__version__ = "0.1.0"

from xetl_spark.session import get_session  # noqa: F401
