"""ragflow_spark — a PySpark-native main-content extraction engine.

A brand-new implementation (NOT a port) with the data-processing
capabilities of the 52dev/ragflow reference (see SURVEY.md):

- ``kernels``   — pure-Python, deterministic extraction kernels
  (payload sniff, HTML DOM parse + boilerplate strip, PDF layout
  text assembly, chunking templates). No Spark imports; unit-testable
  standalone; invoked from vectorized pandas/Arrow UDFs only.
- ``sources``   — deterministic synthetic pages generation + readers.
- ``plans``     — the Spark DataFrame pipeline (partitioning, salting,
  extraction stage, metrics/lineage, checkpoint-resume).
- ``operators`` — the reference's relational operator semantics
  (SURVEY.md §2) mapped onto Spark DataFrame ops, plus the
  training-data-pipeline ops (dedup, similarity, text analysis).
- ``functions`` — scalar expression helpers (the Switch predicate
  language, switch.py:90-129 of the reference).
"""

from ragflow_spark.deploy import skip_unchanged_zip_rereads

FIXTURE_VERSION = 1

# runs in every Python worker that unpickles one of our functions: stops
# the per-task re-read of every zip directory on sys.path (deploy.py)
skip_unchanged_zip_rereads()

__all__ = ["FIXTURE_VERSION"]
