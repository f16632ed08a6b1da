from .aggregates import (  # noqa: F401
    streaming_attribution, streaming_daily_summary, streaming_dedup,
    streaming_enrich_static, streaming_funnel_join,
    streaming_histogram_quantiles, streaming_ohlc_bars,
)
from .anomaly_stream import (  # noqa: F401
    anomaly_state_sink, read_anomaly_scores, run_anomaly_ingest,
)
from .cdc_stream import (  # noqa: F401
    cdc_apply_sink, read_cdc_snapshot, run_cdc_apply,
)
from .dedup_stream import incremental_dedup_sink, run_dedup_ingest  # noqa: F401
from .inventory_stream import (  # noqa: F401
    read_transaction_stream, run_available_now, streaming_depletion,
)
from .m4_stream import m4_state_sink, read_m4, run_m4_ingest  # noqa: F401
from .manifest_stream import (  # noqa: F401
    manifest_state_sink, read_manifest, run_manifest_ingest,
)
from .rollup_stream import (  # noqa: F401
    read_rollup_state, rollup_state_sink, run_rollup_ingest,
)
from .scrub_stream import (  # noqa: F401
    freeze_eval_index, read_scrub, run_scrub_ingest, scrub_state_sink,
)
from .segment_stream import run_segment_ingest, segment_dedup_sink  # noqa: F401
from .semantic_stream import (  # noqa: F401
    incremental_semantic_model_sink, incremental_semantic_sink,
    rebuild_semantic_model, run_semantic_ingest,
)
from .sinks import (  # noqa: F401
    drain, epoch_guarded_sink, idempotent_parquet_sink,
    quarantine_parquet_sink, vacuum_epoch_partitions,
)
from .zonemap_stream import (  # noqa: F401
    read_zone_map, run_zonemap_ingest, zone_state_sink,
)
