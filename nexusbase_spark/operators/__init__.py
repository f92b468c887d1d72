from nexusbase_spark.operators.scan import (  # noqa: F401
    metric_filter,
    tag_filter,
    time_range,
    relative_range,
)
from nexusbase_spark.operators.mvcc import (  # noqa: F401
    dedup_latest,
    apply_point_deletes,
    apply_series_deletes,
    apply_range_deletes,
)
from nexusbase_spark.operators.aggregate import final_aggregate  # noqa: F401
from nexusbase_spark.operators.downsample import downsample  # noqa: F401
from nexusbase_spark.operators.order import (  # noqa: F401
    order_points,
    keyset_after,
    encode_cursor,
    decode_cursor,
)
from nexusbase_spark.operators.joins import (  # noqa: F401
    asof_join,
    asof_join_tagged,
    range_band_join,
)
from nexusbase_spark.operators.sessionize import sessionize  # noqa: F401
from nexusbase_spark.operators.metadata import (  # noqa: F401
    show_metrics,
    show_tag_keys,
    show_tag_values,
    series_by_tags,
)
from nexusbase_spark.operators.timeseries import (  # noqa: F401
    acf_lags,
    fill_forward,
    fill_linear,
    robust_zscore_flag,
    rolling_agg,
    series_delta,
    zscore_flag,
)
