from nexusbase_spark.streaming.subscribe import (  # noqa: F401
    BoundedSubscriber,
    match_expr,
    subscription_filter,
    subscribe,
    stream_ingest,
    live_downsample,
    live_dedup,
)
from nexusbase_spark.streaming.sessions import live_sessionize  # noqa: F401
from nexusbase_spark.streaming.kafka import (  # noqa: F401
    encode_point_json,
    kafka_stream_ingest,
    parse_kafka_points,
)
from nexusbase_spark.streaming.hooks import (  # noqa: F401
    HookBus,
    OutlierDetector,
    CardinalityAlerter,
    WriteAmplificationListener,
    WriteFirewallListener,
)
from nexusbase_spark.streaming.changepoints import live_cusum  # noqa: F401
