from .source import (  # noqa: F401
    read_event_stream,
    read_events_table_stream,
)
from .windows import (  # noqa: F401
    daily_cms_counters,
    daily_hll_registers,
    daily_kmv_sketches,
    daily_sample_quantiles,
    session_window_stats,
    sliding_window_value,
    tumbling_window_counts,
)
from .pairing import pair_submit_complete_stream  # noqa: F401
from .foreach import IdempotentBatchSink  # noqa: F401
from .shedding import DEFAULT_QUEUE_CAPACITY, shed_overflow  # noqa: F401
from .generator import live_event_stream, synthetic_hook_stream  # noqa: F401
from .packing import pack_sequences_stream  # noqa: F401
