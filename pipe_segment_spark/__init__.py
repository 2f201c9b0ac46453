"""pipe_segment_spark — a from-scratch PySpark-native streaming CEP engine.

Re-creates the query semantics of GlobalFishingWatch/pipe-segment (a Beam
batch pipeline that segments keyed event streams into fragments/segments with
stateful cross-window matching) as an idiomatic Spark engine:

- DataFrame/Catalyst expressions for all relational operators
  (reference: pipe_segment/pipeline.py:159-301).
- Arrow-vectorized ``mapInPandas`` over doc_id-sorted batches for the
  per-key stateful inner loops, one Python call per batch (reference:
  transform/fragment_implementation.py, create_segment_map.py).
- Structured Streaming ``applyInPandasWithState`` for the unbounded path.
- Token-sequence data model per the north-star recast: records are
  ``(doc_id, source, timestamp, tokens:array<int32>, n_tok, msgid, rec_type)``
  and the reference's distance/speed thresholds become inter-record
  timestamp-delta / token-count-delta-rate thresholds.
"""

from pipe_segment_spark.config import SegmenterParams

__version__ = "0.1.0"

__all__ = ["SegmenterParams", "__version__"]
