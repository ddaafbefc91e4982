"""data_harvesting_spark — a PySpark-native streaming harvest-and-curate engine.

A from-scratch re-expression of the capabilities of uug-ai/data-harvesting
(reference: /root/reference, read-only) as CEP over a stream of multi-turn
agent transcripts:

    (conv_id string, turn_idx int, role string, text string, tool string,
     ts timestamp)

Architecture (Spark-first, NOT a port):

- one pure transform library (operators/, functions/) used by two runners —
  batch (the reference's ``single-shot.py`` analog) and streaming (the
  ``queue_harvesting.py`` analog); mirrors the reference's E1/E2 split
  (SURVEY.md §3).
- DataFrame API + vectorized Arrow/pandas UDFs only; no per-row Python, no
  RDDs, no custom Catalyst rules.
- streaming: Structured Streaming micro-batches, event-time watermarks,
  JVM session windows whose closed sessions the declarative curate
  pipeline correlates call↔response in foreachBatch, idempotent merge sink
  keyed ``(conv_id, window_start)``; ``applyInPandasWithState`` only for
  the per-key handlers of the SFT, pattern, timeout, CEP and SCD2 jobs.
"""

from data_harvesting_spark.config import HarvestConfig
from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA, CURATED_SCHEMA
from data_harvesting_spark.session import get_spark

__all__ = ["HarvestConfig", "TRANSCRIPT_SCHEMA", "CURATED_SCHEMA", "get_spark"]

__version__ = "0.1.0"
