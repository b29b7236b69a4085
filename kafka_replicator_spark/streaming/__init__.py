from kafka_replicator_spark.streaming.egress_stream import run_egress_stream
from kafka_replicator_spark.streaming.ingress_stream import run_ingress_stream

__all__ = ["run_egress_stream", "run_ingress_stream"]
