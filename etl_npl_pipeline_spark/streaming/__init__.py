from etl_npl_pipeline_spark.streaming.events import (  # noqa: F401
    drain,
    stream_sessionize,
    stream_windowed_counts,
)
