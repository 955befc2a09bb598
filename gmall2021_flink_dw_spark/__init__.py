"""gmall2021_flink_dw_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
the reference repo ``lllong33/gmall2021-flink-DW`` (a Flink 1.13 Kappa-style
real-time e-commerce DW), built Spark-first:

- every operator is a pure ``DataFrame -> DataFrame`` function usable in
  both batch and Structured Streaming (SURVEY.md §7 design rule);
- logical plans are declared with the DataFrame/SQL API and optimized by
  Catalyst (predicate pushdown, column pruning, broadcast selection, AQE);
- per-row external lookups of the reference (async Phoenix/Redis dim
  lookups, ``DimAsyncFunction.java:28-53``) become set-oriented broadcast
  joins;
- Flink keyed-state operators (``UniqueVisitApp.java:43-78``,
  ``BaseLogApp.java:52-77``) become window-function batch operators plus
  ``applyInPandasWithState`` streaming twins.

Nothing in this package is copied from the reference; citations in
docstrings are parity pointers (file:line in /root/reference) only.
"""

__version__ = "0.1.0"

import sys as _sys

# Inside a PySpark worker only: stop every task from re-reading the
# unchanged pyspark.zip / spark-core jar directories (worker_imports.py).
if _sys.version_info < (3, 13) and "pyspark.worker" in _sys.modules:
    from gmall2021_flink_dw_spark import worker_imports as _worker_imports

    _worker_imports.install()
