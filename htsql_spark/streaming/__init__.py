from .events import (  # noqa: F401
    dedup_within_watermark,
    drain,
    enrich_with_dim,
    purchases_enriched,
    purchases_join_clicks_stream,
    rank_top_users,
    read_events_stream,
    run_to_memory,
    running_totals_per_user,
    session_counts,
    sliding_event_avg,
    streaming_anomalies,
    tumbling_counts,
    windowed_distinct_users,
    windowed_user_counts,
    windowed_value_quantiles,
)
from .curate import (  # noqa: F401
    curate_stream,
    read_documents_stream,
    run_dedup_ingest,
    run_exact_dedup_ingest,
)
from .snapshot import (  # noqa: F401
    apply_cdc_batch,
    run_cdc_snapshot,
)
