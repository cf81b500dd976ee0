from loggie_spark.sinks.router import SinkSpec, explode_to_sinks
from loggie_spark.sinks.metrics import sink_metrics

__all__ = ["SinkSpec", "explode_to_sinks", "sink_metrics"]
