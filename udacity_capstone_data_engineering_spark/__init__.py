"""udacity_capstone_data_engineering_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference ETL project
``maleksaati/udacity-Capstone-Data-Engineering`` (star-schema ETL, typed
ingestion, cleaning, dimensional joins, date derivation, data-quality
checking), generalized into a reusable operator catalog and extended with
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing).

Design principles (see SURVEY.md §7):
  - DataFrame/SQL only; no RDDs; Catalyst owns the physical plan.
  - Built-in ``pyspark.sql.functions`` in the hot path; Arrow-batched
    pandas UDFs only where built-ins genuinely cannot express semantics.
  - Every operator is shuffle- and pushdown-aware: broadcast small dims,
    pre-aggregate before joins, keep filters/projections at the scan.
"""

import sys

from pyspark import cloudpickle

from udacity_capstone_data_engineering_spark.session import get_spark, session_builder

# Python workers never import this package: every closure that names
# package code (a kernel, a decoder, a module helper) carries that code
# with the pickled task, so a worker started from any working directory
# or by any session factory runs it.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "session_builder"]

__version__ = "0.1.0"
