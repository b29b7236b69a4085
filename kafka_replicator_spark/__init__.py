"""kafka_replicator_spark — a PySpark-native rebuild of the capabilities of
CrowdStrike/kafka-replicator (reference at /root/reference, read-only).

The reference is a Kafka→S3-Parquet mirroring pipeline: three dataflow
programs (egress, ingress, compaction) over an offset-ordered, partitioned
message stream, plus two Kafka-backed metadata stores (checkpoints and
segment events).  This package re-expresses every operator in that system
as idiomatic PySpark — DataFrame/SQL declarative plans that Catalyst can
optimize — instead of translating the Go goroutine pipelines.

Layout:
    core/        canonical schemas, segment path codec, message-size expr
    sources/     segment listing/reading, events→messages mapping
    operators/   egress rollover, compaction merge, checkpoint store,
                 consistent listing (the reference's operator inventory)
    functions/   beyond-parity data-pipeline ops: dedup (exact / MinHash-LSH /
                 SimHash / n-gram Jaccard), similarity search, text analysis,
                 multimodal column plumbing
    streaming/   Structured Streaming egress/ingress + stateful operators
    plans/       plan-inspection helpers (pushdown / broadcast assertions)

Design rules (SURVEY.md §4, §7):
  * partition-local by construction — the reference has no shuffle anywhere;
    segment operators use `sortWithinPartitions` / per-group writers, never a
    global `orderBy`, so the plan scales to 1000 executors.
  * metadata joins (checkpoints, segment listings) are broadcast joins —
    they are MB-scale next to the TB-scale message data.
  * filters and projections stay in built-in `pyspark.sql.functions`
    (whole-stage codegen); Python only in per-segment pyarrow writers.
"""

from kafka_replicator_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
