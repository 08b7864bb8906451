from .reorder import reorder_stream
from .scoring import export_quality_model, score_doc_stream
from .stateful import (
    streaming_distinct_hll,
    streaming_ema,
    streaming_freq_cms,
    streaming_heavy_hitters,
    streaming_near_dup_candidates,
    streaming_quantiles_dd,
)
from .windows import (
    enrich_with_static,
    interval_join,
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)

__all__ = [
    "enrich_with_static",
    "export_quality_model",
    "interval_join",
    "reorder_stream",
    "score_doc_stream",
    "session_agg",
    "sliding_agg",
    "stream_dedup",
    "streaming_distinct_hll",
    "streaming_ema",
    "streaming_freq_cms",
    "streaming_heavy_hitters",
    "streaming_near_dup_candidates",
    "streaming_quantiles_dd",
    "tumbling_agg",
]
