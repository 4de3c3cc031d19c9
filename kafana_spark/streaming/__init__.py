from kafana_spark.streaming.pipeline import (  # noqa: F401
    sessionize, windowed_counts,
)
