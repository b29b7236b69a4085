"""Reference-parity queries (SURVEY.md §2) over the canonical message
stream, each with its DuckDB oracle.

The ``events`` table plays the Kafka stream (sources/messages.py); segments
are derived with the count-based rollover so the whole lifecycle is
SQL-expressible on the oracle side.  File-producing paths (the real
segment writer/compactor) are exercised by tests/, not here — DuckDB can't
see our written files, only the shared testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.core.schema import EVENT_CREATED, EVENT_REMOVED, local_frame
from kafka_replicator_spark.operators.checkpoints import (
    compacted_topic_state,
    latest_checkpoints,
    prune_processed_segments,
    resume_filter,
)
from kafka_replicator_spark.operators.compaction import plan_compaction
from kafka_replicator_spark.functions.hashing import portable_hash60, portable_hash60_sql
from kafka_replicator_spark.operators.egress import assign_segments_by_count, segment_bounds
from kafka_replicator_spark.queries import register, with_ctes
from kafka_replicator_spark.sources.messages import MESSAGES_ORACLE_CTE, events_as_messages

MESSAGES_CTE = f"messages AS ({MESSAGES_ORACLE_CTE})"

SEG_MAX_MESSAGES = 100

TAGGED_CTE = (
    f"tagged AS (SELECT *, msg_offset // {SEG_MAX_MESSAGES} AS segment_seq FROM messages)"
)
SEGMENTS_CTE = """segments AS (
  SELECT 'local' AS region, topic, partition_id, CAST(0 AS INTEGER) AS level, segment_seq,
         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
         count(*) AS message_count, CAST(sum(msg_size) AS BIGINT) AS size_bytes
  FROM tagged GROUP BY topic, partition_id, segment_seq
)"""


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    return segment_bounds(
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES), region="local", level=0
    )


# --------------------------------------------------------------- P1 / X6

@register(
    "r_p1_project_messages",
    with_ctes(
        MESSAGES_CTE,
        select="SELECT topic, partition_id, msg_offset, msg_key, payload, ts_us, msg_size FROM messages",
    ),
    tags=("parity", "projection"),
    doc="P1/P2 Kafka-record→Message projection + X6 message-size expression "
    "(reference pkg/egress/worker.go:246-268, pkg/core/core.go:136-147)",
)
def q_project_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_messages(spark, sf_dir).select(
        "topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_us", "msg_size"
    )


# -------------------------------------------------------------------- F1

@register(
    "r_f1_resume_trim",
    with_ctes(
        MESSAGES_CTE,
        select="SELECT partition_id, msg_offset, msg_key FROM messages WHERE msg_offset >= 100",
    ),
    tags=("parity", "filter"),
    doc="F1 head-trim: drop rows already delivered (reference pkg/ingress/worker.go:390-396)",
)
def q_resume_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_as_messages(spark, sf_dir)
        .filter(F.col("msg_offset") >= 100)
        .select("partition_id", "msg_offset", "msg_key")
    )


# --------------------------------------------------------- T1 / A1 / A2 / A5

@register(
    "r_t1_segment_plan",
    with_ctes(MESSAGES_CTE, TAGGED_CTE, SEGMENTS_CTE, select="SELECT * FROM segments"),
    tags=("parity", "aggregation"),
    doc="T1/A1/A2 segment rollover accumulation: per-segment count/size/extent "
    "(reference pkg/egress/worker.go:51-56,174-180)",
)
def q_segment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _segments(spark, sf_dir)


# -------------------------------------------------------------------- A6

@register(
    "r_a6_checkpoint_lww",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT 'src' AS region, topic, partition_id,
       max(msg_offset) AS msg_offset, max_by(ts_us, msg_offset) AS ts_us
FROM messages GROUP BY topic, partition_id""",
    ),
    tags=("parity", "aggregation"),
    doc="A6 last-checkpoint-per-key argmax with monotonic rule "
    "(reference pkg/stores/checkpoint_store.go:219-237)",
)
def q_checkpoint_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    updates = events_as_messages(spark, sf_dir).select(
        F.lit("src").alias("region"), "topic", "partition_id", "msg_offset", "ts_us"
    )
    return latest_checkpoints(updates, ts_col="ts_us")


# -------------------------------------------------------------- T9 / F1+J2

#: the ONE checkpoint fixture both engines must see byte-identically —
#: every query-side createDataFrame derives from this tuple so an edit
#: here cannot desync the oracle's VALUES list from the Spark literals
CP_ROWS = (("events", 0, 100), ("events", 1, 50))
CHECKPOINTS_VALUES = (
    "(VALUES "
    + ", ".join(f"('{t}', {p}, {o})" for t, p, o in CP_ROWS)
    + ") cp(topic, partition_id, cp_offset)"
)


@register(
    "r_t9_resume_replay",
    with_ctes(
        MESSAGES_CTE,
        select=f"""
SELECT m.partition_id, count(*) AS n_delivered,
       min(m.msg_offset) AS first_offset, max(m.msg_offset) AS last_offset
FROM messages m
LEFT JOIN {CHECKPOINTS_VALUES}
  ON m.topic = cp.topic AND m.partition_id = cp.partition_id
WHERE cp.cp_offset IS NULL OR m.msg_offset > cp.cp_offset
GROUP BY m.partition_id""",
    ),
    tags=("parity", "join", "filter"),
    doc="T9 resume-from-checkpoint: deliver exactly offsets > checkpoint; "
    "J2 broadcast checkpoint lookup (reference pkg/ingress/worker.go:110-127)",
)
def q_resume_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    cps = local_frame(
        spark,
        [("src", t, p, o, 0) for t, p, o in CP_ROWS],
        "region string, topic string, partition_id int, msg_offset long, ts_ns long",
    )
    return (
        resume_filter(msgs, cps)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_delivered"),
            F.min("msg_offset").alias("first_offset"),
            F.max("msg_offset").alias("last_offset"),
        )
    )


# -------------------------------------------------------------------- F2

@register(
    "r_f2_prune_segments",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select=f"""
SELECT s.topic, s.partition_id, s.segment_seq, s.start_offset, s.end_offset
FROM segments s
LEFT JOIN {CHECKPOINTS_VALUES}
  ON s.topic = cp.topic AND s.partition_id = cp.partition_id
WHERE cp.cp_offset IS NULL OR s.end_offset > cp.cp_offset""",
    ),
    tags=("parity", "filter"),
    doc="F2 segment skip: endOffset <= checkpoint pruned at load "
    "(reference pkg/ingress/worker.go:484-489)",
)
def q_prune_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    cps = local_frame(
        spark,
        [("src", t, p, o, 0) for t, p, o in CP_ROWS],
        "region string, topic string, partition_id int, msg_offset long, ts_ns long",
    )
    return prune_processed_segments(segs, cps).select(
        "topic", "partition_id", "segment_seq", "start_offset", "end_offset"
    )


# ------------------------------------------------------------- A8 / O1 / F4

@register(
    "r_a8_bounded_take",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select="""
SELECT topic, partition_id, segment_seq, start_offset, end_offset,
       message_count, size_bytes, compact_floor
FROM (
  SELECT *,
         CAST(0 AS BIGINT) AS compact_floor,
         row_number() OVER w AS rn,
         coalesce(sum(size_bytes) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
  FROM segments
  WINDOW w AS (PARTITION BY topic, partition_id ORDER BY start_offset ASC, end_offset DESC)
)
WHERE rn <= 3 AND cum_before < 25000""",
    ),
    tags=("parity", "window"),
    doc="A8 bounded prefix-sum take + O1 heap order + F4 level band — the "
    "compaction planner (reference pkg/compaction/compactor.go:165-243)",
)
def q_bounded_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    plan = plan_compaction(
        segs, min_level=0, max_level=0, min_count=1, max_count=3, min_bytes=1, max_bytes=25000
    )
    return plan.select(
        "topic", "partition_id", "segment_seq", "start_offset", "end_offset",
        "message_count", "size_bytes", "compact_floor",
    )


# -------------------------------------------------------------------- M1

@register(
    "r_m1_merge_dedup",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT topic, partition_id, msg_offset, max(payload) AS payload, count(*) AS n_copies
FROM (
  SELECT topic, partition_id, msg_offset, payload FROM messages WHERE msg_offset BETWEEN 0 AND 149
  UNION ALL
  SELECT topic, partition_id, msg_offset, payload FROM messages WHERE msg_offset BETWEEN 100 AND 249
)
GROUP BY topic, partition_id, msg_offset""",
    ),
    tags=("parity", "setop"),
    doc="M1 compaction merge: ordered concat of overlapping segments with "
    "offset dedup (reference pkg/compaction/compactor.go:245-312)",
)
def q_merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir).select("topic", "partition_id", "msg_offset", "payload")
    seg_a = msgs.filter(F.col("msg_offset").between(0, 149))
    seg_b = msgs.filter(F.col("msg_offset").between(100, 249))
    return (
        seg_a.unionByName(seg_b)
        .groupBy("topic", "partition_id", "msg_offset")
        .agg(F.max("payload").alias("payload"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "r_m1_gap_check",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT topic, partition_id, count(*) AS n,
       min(msg_offset) AS lo, max(msg_offset) AS hi,
       count(*) = max(msg_offset) - min(msg_offset) + 1 AS dense
FROM (
  SELECT * FROM messages WHERE msg_offset BETWEEN 0 AND 99
  UNION ALL
  SELECT * FROM messages WHERE msg_offset BETWEEN 150 AND 249
)
GROUP BY topic, partition_id""",
    ),
    tags=("parity", "aggregation"),
    doc="M1 gap detection: count == end-start+1 density assertion "
    "(reference pkg/compaction/compactor.go:219-221)",
)
def q_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg_a = msgs.filter(F.col("msg_offset").between(0, 99))
    seg_b = msgs.filter(F.col("msg_offset").between(150, 249))
    return (
        seg_a.unionByName(seg_b)
        .groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("msg_offset").alias("lo"),
            F.max("msg_offset").alias("hi"),
        )
        .withColumn("dense", F.col("n") == F.col("hi") - F.col("lo") + 1)
    )


# -------------------------------------------------------------------- A7

EVENTS_OVERLAY_CTE = """seg_events AS (
  SELECT 'src' AS region, topic, partition_id, level, start_offset, end_offset,
         size_bytes, 'CREATED' AS event_type, CAST(1000 AS BIGINT) AS event_ts
  FROM segments
  UNION ALL
  SELECT 'src', topic, partition_id, level, start_offset, end_offset,
         size_bytes, 'REMOVED', CAST(1000 AS BIGINT)
  FROM segments WHERE segment_seq % 3 = 0
  UNION ALL
  SELECT 'src', topic, partition_id, level, start_offset, end_offset,
         size_bytes, 'REMOVED', CAST(500 AS BIGINT)
  FROM segments WHERE segment_seq % 5 = 0
)"""


def _overlay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir).withColumn("region", F.lit("src"))
    base = segs.select(
        "region", "topic", "partition_id", "level", "start_offset", "end_offset", "size_bytes"
    )
    created = base.withColumn("event_type", F.lit(EVENT_CREATED)).withColumn(
        "event_ts", F.lit(1000).cast("long")
    )
    seg3 = segs.filter(F.col("segment_seq") % 3 == 0)
    removed_tie = seg3.select(base.columns).withColumn(
        "event_type", F.lit(EVENT_REMOVED)
    ).withColumn("event_ts", F.lit(1000).cast("long"))
    seg5 = segs.filter(F.col("segment_seq") % 5 == 0)
    removed_old = seg5.select(base.columns).withColumn(
        "event_type", F.lit(EVENT_REMOVED)
    ).withColumn("event_ts", F.lit(500).cast("long"))
    return created.unionByName(removed_tie).unionByName(removed_old)


@register(
    "r_a7_last_event",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        EVENTS_OVERLAY_CTE,
        select="""
SELECT region, topic, partition_id, level, start_offset, end_offset, event_type, event_ts
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY region, topic, partition_id, level, start_offset, end_offset
    ORDER BY event_ts DESC, (event_type = 'REMOVED') DESC
  ) AS rn
  FROM seg_events
) WHERE rn = 1""",
    ),
    tags=("parity", "window"),
    doc="A7 last-event-per-segment argmax, REMOVED beats CREATED on a "
    "timestamp tie (reference pkg/stores/consistent_segment_store.go:361-380)",
)
def q_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.operators.consistent import last_event_per_segment

    events = _overlay_events(spark, sf_dir)
    return last_event_per_segment(events).select(
        "region", "topic", "partition_id", "level", "start_offset", "end_offset",
        "event_type", "event_ts",
    )


# -------------------------------------------------------------------- J1

@register(
    "r_j1_consistent_listing",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        EVENTS_OVERLAY_CTE,
        """listing AS (
  SELECT 'src' AS region, topic, partition_id, level, start_offset, end_offset,
         message_count, size_bytes,
         printf('data/%s/%s/%d/%d/%020d-%020d.parquet',
                'src', topic, partition_id, level, start_offset, end_offset) AS path
  FROM segments WHERE segment_seq % 4 <> 1
)""",
        """last_ev AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY region, topic, partition_id, level, start_offset, end_offset
      ORDER BY event_ts DESC, (event_type = 'REMOVED') DESC
    ) AS rn FROM seg_events
  ) WHERE rn = 1
)""",
        select="""
SELECT coalesce(l.region, e.region) AS region,
       coalesce(l.topic, e.topic) AS topic,
       coalesce(l.partition_id, e.partition_id) AS partition_id,
       coalesce(l.level, e.level) AS level,
       coalesce(l.start_offset, e.start_offset) AS start_offset,
       coalesce(l.end_offset, e.end_offset) AS end_offset,
       coalesce(l.size_bytes, e.size_bytes) AS size_bytes,
       l.path AS path
FROM listing l
FULL OUTER JOIN last_ev e
  ON l.region = e.region AND l.topic = e.topic AND l.partition_id = e.partition_id
 AND l.level = e.level AND l.start_offset = e.start_offset AND l.end_offset = e.end_offset
WHERE (l.path IS NOT NULL AND (e.event_type IS NULL OR e.event_type <> 'REMOVED'))
   OR (l.path IS NULL AND e.event_type = 'CREATED')""",
    ),
    tags=("parity", "join"),
    doc="J1 consistent listing: full outer join of S3 listing with the "
    "events overlay (reference pkg/stores/consistent_segment_store.go:178-217)",
)
def q_consistent_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.core.codec import segment_path_col
    from kafka_replicator_spark.operators.consistent import consistent_listing

    segs = _segments(spark, sf_dir).withColumn("region", F.lit("src"))
    listing = (
        segs.filter(F.col("segment_seq") % 4 != 1)
        .withColumn("path", segment_path_col("data"))
        .withColumn("modified_ts", F.lit(None).cast("long"))
        .select(
            "region", "topic", "partition_id", "level", "start_offset", "end_offset",
            "message_count", "size_bytes", "modified_ts", "path",
        )
    )
    events = _overlay_events(spark, sf_dir).withColumnRenamed("event_ts", "event_ts_raw")
    events = events.withColumn("event_ts", F.col("event_ts_raw")).drop("event_ts_raw")
    resolved = consistent_listing(listing, events)
    return resolved.select(
        "region", "topic", "partition_id", "level", "start_offset", "end_offset",
        "size_bytes", "path",
    )


# -------------------------------------------------------------------- X1

@register(
    "r_x1_path_codec",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        """paths AS (
  SELECT topic, partition_id, segment_seq,
         printf('data/%s/%s/%d/%d/%020d-%020d.parquet',
                'src', topic, partition_id, level, start_offset, end_offset) AS path,
         start_offset, end_offset
  FROM segments
)""",
        select=r"""
SELECT topic, partition_id, segment_seq, path,
       CAST(regexp_extract(path, '([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})', 5) AS BIGINT)
           AS parsed_start,
       CAST(regexp_extract(path, '([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})', 6) AS BIGINT)
           AS parsed_end,
       CAST(regexp_extract(path, '([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})', 5) AS BIGINT)
           = start_offset
       AND CAST(regexp_extract(path, '([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})', 6) AS BIGINT)
           = end_offset AS roundtrip_ok
FROM paths""",
    ),
    tags=("parity", "scalar"),
    doc="X1/P4 segment path codec round-trip: format_string ↔ regexp_extract "
    "(reference pkg/stores/s3_segment_store.go:244-371)",
)
def q_path_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.core.codec import segment_path_col

    segs = _segments(spark, sf_dir).withColumn("region", F.lit("src"))
    pat = r"([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})"
    with_path = segs.withColumn("path", segment_path_col("data"))
    return with_path.select(
        "topic",
        "partition_id",
        "segment_seq",
        "path",
        F.regexp_extract("path", pat, 5).cast("long").alias("parsed_start"),
        F.regexp_extract("path", pat, 6).cast("long").alias("parsed_end"),
        (
            (F.regexp_extract("path", pat, 5).cast("long") == F.col("start_offset"))
            & (F.regexp_extract("path", pat, 6).cast("long") == F.col("end_offset"))
        ).alias("roundtrip_ok"),
    )


# -------------------------------------------------------------------- F6

@register(
    "r_f6_sanity_offsets",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT topic, partition_id, count(*) AS n,
       min(msg_offset) AS lo, max(msg_offset) AS hi,
       count(*) = max(msg_offset) - min(msg_offset) + 1 AS dense,
       count(*) - count(DISTINCT msg_offset) AS n_dup_offsets,
       CAST(sum(CASE WHEN prev IS NOT NULL AND msg_offset <= prev THEN 1 ELSE 0 END) AS BIGINT) AS n_order_violations
FROM (
  SELECT *, lag(msg_offset) OVER (PARTITION BY topic, partition_id ORDER BY msg_offset) AS prev
  FROM messages
)
GROUP BY topic, partition_id""",
    ),
    tags=("parity", "window", "quality"),
    doc="F6 sanity predicates: offset >= 0, strictly-increasing, density "
    "(reference pkg/egress/worker.go:270-287)",
)
def q_sanity_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    w = Window.partitionBy("topic", "partition_id").orderBy("msg_offset")
    return (
        msgs.withColumn("prev", F.lag("msg_offset").over(w))
        .groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("msg_offset").alias("lo"),
            F.max("msg_offset").alias("hi"),
            (F.count(F.lit(1)) == F.max("msg_offset") - F.min("msg_offset") + 1).alias("dense"),
            (F.count(F.lit(1)) - F.count_distinct("msg_offset")).alias("n_dup_offsets"),
            F.sum(
                F.when(F.col("prev").isNotNull() & (F.col("msg_offset") <= F.col("prev")), 1)
                .otherwise(0)
            ).alias("n_order_violations"),
        )
    )


# -------------------------------------------------------------------- S5/F8

@register(
    "r_s5_compacted_state",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT msg_key, val AS payload
FROM (
  SELECT msg_key, val, row_number() OVER (PARTITION BY msg_key ORDER BY event_id DESC) AS rn
  FROM (
    SELECT msg_key, event_id,
           CASE WHEN event_type = 'error' THEN NULL ELSE payload END AS val
    FROM messages
  )
) WHERE rn = 1 AND val IS NOT NULL""",
    ),
    tags=("parity", "aggregation"),
    doc="S5 compacted-topic replay to last state + F8 tombstone skip "
    "(reference pkg/stores/checkpoint_store.go:170-217,187-190)",
)
def q_compacted_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir).withColumn(
        "val", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("payload"))
    )
    return compacted_topic_state(msgs, ["msg_key"], "event_id", ["val"]).select(
        "msg_key", F.col("val").alias("payload")
    )


# -------------------------------------------------------------------- A3

@register(
    "r_a3_min_ts_per_batch",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT topic, partition_id, msg_offset // 250 AS batch_seq,
       min(ts_us) AS min_ts_us, count(*) AS n
FROM messages GROUP BY topic, partition_id, msg_offset // 250""",
    ),
    tags=("parity", "aggregation"),
    doc="A3 min(timestamp) per produced batch — the replication-lag metric "
    "input (reference pkg/ingress/worker.go:438-445)",
)
def q_min_ts_per_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_as_messages(spark, sf_dir)
        .withColumn("batch_seq", (F.col("msg_offset") / 250).cast("long"))
        .groupBy("topic", "partition_id", "batch_seq")
        .agg(F.min("ts_us").alias("min_ts_us"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------- A4 / A5

@register(
    "r_a4_level_extent",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select="""
SELECT topic, partition_id,
       max(segment_seq % 3) + 1 AS out_level,
       min(start_offset) AS extent_start, max(end_offset) AS extent_end,
       count(*) AS n_inputs
FROM segments GROUP BY topic, partition_id""",
    ),
    tags=("parity", "aggregation"),
    doc="A4 output level = max(input levels)+1; A5 offset-range extent "
    "(reference pkg/compaction/compactor.go:134-150,353-362)",
)
def q_level_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir).withColumn("lvl", F.col("segment_seq") % 3)
    return segs.groupBy("topic", "partition_id").agg(
        (F.max("lvl") + 1).alias("out_level"),
        F.min("start_offset").alias("extent_start"),
        F.max("end_offset").alias("extent_end"),
        F.count(F.lit(1)).alias("n_inputs"),
    )


# -------------------------------------------------------------------- X3

@register(
    "r_x3_json_extract",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT event_type, count(*) AS n,
       min(CAST(json_extract_string(payload, '$.k') AS INTEGER)) AS min_k,
       max(CAST(json_extract_string(payload, '$.k') AS INTEGER)) AS max_k,
       CAST(sum(CAST(json_extract_string(payload, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM messages GROUP BY event_type""",
    ),
    tags=("parity", "scalar"),
    doc="X3 JSON payload parse (reference SQS event parse, "
    "pkg/stores/sqs_segment_event_source.go:297-371) as from_json/get_json_object",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir).withColumn(
        "k", F.get_json_object("payload", "$.k").cast("int")
    )
    return msgs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").cast("long").alias("sum_k"),
    )


# -------------------------------------------------------------------- F7

@register(
    "r_f7_foreign_region",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        EVENTS_OVERLAY_CTE.replace("'src'", "CASE WHEN segment_seq % 2 = 0 THEN 'local' ELSE 'remote' END"),
        select="""
SELECT region, topic, partition_id, count(*) AS n_events
FROM seg_events WHERE region <> 'local'
GROUP BY region, topic, partition_id""",
    ),
    tags=("parity", "filter"),
    doc="F7 local-region filter: a region never consumes its own events/"
    "checkpoints (reference ingress controller.go:100-102, "
    "checkpoint_store.go:130-133)",
)
def q_foreign_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.operators.checkpoints import filter_foreign_region

    events = _overlay_events_regioned(spark, sf_dir)
    return (
        filter_foreign_region(events, local_region="local")
        .groupBy("region", "topic", "partition_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _overlay_events_regioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay events with region alternating by segment_seq (for F7)."""
    segs = _segments(spark, sf_dir).withColumn(
        "region",
        F.when(F.col("segment_seq") % 2 == 0, F.lit("local")).otherwise(F.lit("remote")),
    )
    base = segs.select(
        "region", "topic", "partition_id", "level", "start_offset", "end_offset",
        "size_bytes", "segment_seq",
    )
    created = base.withColumn("event_type", F.lit(EVENT_CREATED)).withColumn(
        "event_ts", F.lit(1000).cast("long")
    )
    removed_tie = (
        base.filter(F.col("segment_seq") % 3 == 0)
        .withColumn("event_type", F.lit(EVENT_REMOVED))
        .withColumn("event_ts", F.lit(1000).cast("long"))
    )
    removed_old = (
        base.filter(F.col("segment_seq") % 5 == 0)
        .withColumn("event_type", F.lit(EVENT_REMOVED))
        .withColumn("event_ts", F.lit(500).cast("long"))
    )
    return (
        created.unionByName(removed_tie).unionByName(removed_old).drop("segment_seq")
    )


# -------------------------------------------------------------------- T10

@register(
    "r_t10_event_expiry",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        EVENTS_OVERLAY_CTE,
        select="""
SELECT event_type, count(*) AS n_retained
FROM seg_events WHERE event_ts > 600
GROUP BY event_type""",
    ),
    tags=("parity", "streaming-shape"),
    doc="T10 overlay-event TTL expiry (reference "
    "consistent_segment_store.go:323-397: retention sweep)",
)
def q_event_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.operators.consistent import expire_events

    events = _overlay_events(spark, sf_dir)
    retained = expire_events(events, now=1600, retention=1000)  # cutoff 600
    return retained.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_retained"))


# -------------------------------------------------------------------- X8

@register(
    "r_x8_metric_names",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select=r"""
SELECT regexp_replace('segment.' || topic || '.' || CAST(partition_id AS VARCHAR), '\.', '-', 'g')
           AS metric_name,
       count(*) AS n_segments
FROM segments GROUP BY topic, partition_id""",
    ),
    tags=("parity", "scalar"),
    doc="X8 metric-name sanitize: dots to dashes "
    "(reference pkg/utils/utils.go:52-54)",
)
def q_metric_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    return segs.groupBy("topic", "partition_id").agg(F.count(F.lit(1)).alias("n_segments")).select(
        F.regexp_replace(
            F.concat(F.lit("segment."), F.col("topic"), F.lit("."), F.col("partition_id").cast("string")),
            r"\.",
            "-",
        ).alias("metric_name"),
        "n_segments",
    )


# -------------------------------------------------------------------- T16

@register(
    "r_t16_windowed_counts",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT epoch_us(time_bucket(INTERVAL '1 hour', to_timestamp(ts_us / 1000000.0))) AS window_start_us,
       topic, partition_id, count(*) AS n_messages,
       CAST(sum(msg_size) AS BIGINT) AS sum_bytes
FROM messages
GROUP BY 1, topic, partition_id""",
    ),
    tags=("parity", "window", "streaming-shape"),
    doc="T16 event-time tumbling-window aggregation (batch form of "
    "streaming/windowed.windowed_event_counts; the watermark upgrade over "
    "the reference's processing-time gating)",
)
def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.streaming.windowed import windowed_event_counts

    msgs = events_as_messages(spark, sf_dir)
    out = windowed_event_counts(msgs, window_duration="1 hour")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "topic",
        "partition_id",
        "n_messages",
        F.col("sum_bytes").cast("long").alias("sum_bytes"),
    )


# ------------------------------------------------------- merge fan-in model

#: modeled compaction output budget (messages per merged segment)
MERGE_MAX_MESSAGES = 350


@register(
    "r_merge_fanin_histogram",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select=f"""
SELECT fanin, CAST(count(*) AS BIGINT) AS n_merges
FROM (
  SELECT topic, partition_id, grp, CAST(count(*) AS BIGINT) AS fanin
  FROM (
    SELECT topic, partition_id,
           coalesce(sum(message_count) OVER (
             PARTITION BY topic, partition_id
             ORDER BY start_offset ASC, end_offset DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {MERGE_MAX_MESSAGES} AS grp
    FROM segments
  ) GROUP BY topic, partition_id, grp
) GROUP BY fanin
""",
    ),
    tags=("parity", "window", "aggregation"),
    doc="M1 merge fan-in model: assign level-0 segments to output merges by "
    "the running message-count budget (each output holds <= "
    f"{MERGE_MAX_MESSAGES} input messages, the bounded-output rule of the "
    "compactor — reference pkg/compaction/compactor.go:165-243 with "
    "maxOutputMessages) and report the fan-in histogram — how many input "
    "segments a merged segment consumes, the dial between write "
    "amplification and listing length.  Prefix sums run per partition "
    "(keyed window); bounded output rows",
)
def q_merge_fanin_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    w = (
        Window.partitionBy("topic", "partition_id")
        .orderBy(F.asc("start_offset"), F.desc("end_offset"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer floor division of the running count matches the oracle's
    # `//` exactly (non-negative operands)
    grouped = segs.withColumn(
        "cum_before", F.coalesce(F.sum("message_count").over(w), F.lit(0))
    ).select(
        "topic",
        "partition_id",
        F.expr(f"cum_before div {MERGE_MAX_MESSAGES}").cast("long").alias("grp"),
    )
    fanin = grouped.groupBy("topic", "partition_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("fanin")
    )
    return fanin.groupBy("fanin").agg(
        F.count(F.lit(1)).cast("long").alias("n_merges")
    )


# ---------------------------------------------------- segment size spread

@register(
    "r_segment_size_cv",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(min(size_bytes) AS BIGINT) AS min_bytes,
       CAST(max(size_bytes) AS BIGINT) AS max_bytes,
       CAST(
         CAST(floor(sqrt(CAST(count(*) * sum(size_bytes * size_bytes)
                              - sum(size_bytes) * sum(size_bytes) AS DOUBLE))
                    * 1000000 / CAST(sum(size_bytes) AS DOUBLE)) AS BIGINT)
       AS BIGINT) AS cv_ppm
FROM segments
GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "aggregation"),
    doc="A1/A2 rollover uniformity: per-partition coefficient of variation "
    "of segment sizes in ppm (population sd x n / sum, via the integer "
    "moment identity n*Σx²-(Σx)² with one sqrt re-quantized through "
    "floor) — a high CV means the rollover thresholds produce ragged "
    "segments, the operational dial behind the reference's size/count "
    "limits (pkg/egress/worker.go:51-56).  One keyed aggregate, "
    "partition-grain output",
)
def q_segment_size_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    return segs.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.min("size_bytes").cast("long").alias("min_bytes"),
        F.max("size_bytes").cast("long").alias("max_bytes"),
        # moments lifted to DECIMAL(38,0): size_bytes² at the 100 MiB
        # production segment size would overflow an int64 sum (the oracle's
        # BIGINT sums already widen to HUGEINT)
        F.expr(
            "CAST(floor(sqrt(CAST(count(1)"
            " * sum(CAST(size_bytes AS DECIMAL(38,0)) * size_bytes)"
            " - sum(CAST(size_bytes AS DECIMAL(38,0)))"
            "   * sum(CAST(size_bytes AS DECIMAL(38,0))) AS DOUBLE))"
            " * 1000000 / CAST(sum(size_bytes) AS DOUBLE)) AS BIGINT)"
        ).alias("cv_ppm"),
    )


# --------------------------------------------------- X2 metadata KV codec

#: RFC3339-with-microseconds — the parity grain of the reference's
#: RFC3339Nano footer stamps (the corpus timestamps are µs; DuckDB's
#: parquet reader floors nanos to µs anyway, see sources/tables.py).
_RFC3339_SPARK = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
_RFC3339_DUCK = "%Y-%m-%dT%H:%M:%S.%fZ"


@register(
    "r_x2_metadata_codec",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        f"""seg AS (
  SELECT topic, partition_id,
         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
         max(ts_us) AS close_ts_us
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""enc AS (
  SELECT topic, partition_id, start_offset, end_offset, close_ts_us,
         lpad(CAST(start_offset AS VARCHAR), 20, '0') || '-' ||
         lpad(CAST(end_offset AS VARCHAR), 20, '0') AS offset_key,
         strftime(make_timestamp(close_ts_us), '{_RFC3339_DUCK}') AS ts_str
  FROM seg
)""",
        select=f"""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN CAST(substr(offset_key, 1, 20) AS BIGINT) = start_offset
                      AND CAST(substr(offset_key, 22, 20) AS BIGINT) = end_offset
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_offset_ok,
       CAST(sum(CASE WHEN epoch_us(strptime(ts_str, '{_RFC3339_DUCK}')) = close_ts_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_ok,
       min(offset_key) AS first_key,
       max(offset_key) AS last_key
FROM enc GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "scalar"),
    doc="X2 metadata KV codec roundtrip: encode each segment's offset "
    "extent as the zero-padded 20-digit key pair and its close timestamp "
    "as RFC3339-with-microseconds (the µs parity grain of the reference's "
    "RFC3339Nano footer stamps — s3_parquet.go:234-316,379-397), parse "
    "both back, and count exact roundtrips per partition.  min/max of the "
    "encoded key double as the zero-pad order audit: lexicographic order "
    "of encoded keys must equal numeric offset order, the property the "
    "reference's S3 listing relies on (s3_segment_store.go:36-37).  "
    "Spark date_format/to_timestamp on 'SSSSSS' == DuckDB "
    "strftime/strptime on '%f' bit-exactly under the UTC session tz",
)
def q_metadata_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
            F.max("ts_us").alias("close_ts_us"),
        )
    )
    enc = seg.select(
        "topic",
        "partition_id",
        "start_offset",
        "end_offset",
        "close_ts_us",
        F.concat(
            F.lpad(F.col("start_offset").cast("string"), 20, "0"),
            F.lit("-"),
            F.lpad(F.col("end_offset").cast("string"), 20, "0"),
        ).alias("offset_key"),
        F.date_format(
            F.timestamp_micros(F.col("close_ts_us")), _RFC3339_SPARK
        ).alias("ts_str"),
    )
    ok = F.when(
        (F.substring("offset_key", 1, 20).cast("long") == F.col("start_offset"))
        & (F.substring("offset_key", 22, 20).cast("long") == F.col("end_offset")),
        1,
    ).otherwise(0)
    ts_ok = F.when(
        F.unix_micros(F.to_timestamp(F.col("ts_str"), _RFC3339_SPARK))
        == F.col("close_ts_us"),
        1,
    ).otherwise(0)
    return enc.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(ok).cast("long").alias("n_offset_ok"),
        F.sum(ts_ok).cast("long").alias("n_ts_ok"),
        F.min("offset_key").alias("first_key"),
        F.max("offset_key").alias("last_key"),
    )


# ------------------------------------------------ X7 exponential backoff

#: retry model constants: base delay doubles per attempt, capped
_BACKOFF_BASE_MS = 100
_BACKOFF_CAP_MS = 500
_BACKOFF_MAX_RETRIES = 4


@register(
    "r_x7_backoff_schedule",
    with_ctes(
        MESSAGES_CTE,
        f"""f AS (
  SELECT CASE WHEN h % 64 = 0 THEN 4
              WHEN h % 16 = 0 THEN 3
              WHEN h % 8 = 0 THEN 2
              WHEN h % 4 = 0 THEN 1
              ELSE 0 END AS k
  FROM (SELECT {portable_hash60_sql("msg_key || ':' || CAST(msg_offset AS VARCHAR)")} AS h
        FROM messages)
)""",
        f"""w AS (
  SELECT k, least({_BACKOFF_BASE_MS}::BIGINT << attempt, {_BACKOFF_CAP_MS}) AS wait_ms
  FROM f CROSS JOIN (VALUES (0), (1), (2), (3)) a(attempt)
  WHERE a.attempt < k
)""",
        select="""
SELECT k AS n_retries,
       CAST(count(*) // k AS BIGINT) AS n_messages,
       CAST(sum(wait_ms) AS BIGINT) AS total_backoff_ms,
       CAST(sum(wait_ms) // (count(*) // k) AS BIGINT) AS per_message_ms
FROM w GROUP BY k
""",
    ),
    tags=("parity", "scalar"),
    doc="X7 exponential-backoff schedule model (reference pkg/utils/"
    "time.go:23-40, pkg/core/retrier.go:56-88): each message draws a "
    "deterministic simulated retry count k in 0..4 from the portable "
    "60-bit hash (P(k>=1)=1/4, geometric-ish tail), attempt i waits "
    f"least(base<<i, cap) ms with base={_BACKOFF_BASE_MS} cap="
    f"{_BACKOFF_CAP_MS} — the cap bites at attempt 3, exercising the "
    "clamp.  Pure integer shifts (Spark shiftleft == DuckDB << on "
    "BIGINT); per-message fan-out is the bounded attempts table (<=4), "
    "never a per-row loop.  n_messages = count(*)//k is exact because "
    "every k-retry message contributes exactly k attempt rows.  k=0 "
    "messages wait nowhere and are (documented) absent from the output",
)
def q_backoff_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    h = portable_hash60(
        F.concat(F.col("msg_key"), F.lit(":"), F.col("msg_offset").cast("string"))
    )
    k = (
        F.when(h % 64 == 0, 4)
        .when(h % 16 == 0, 3)
        .when(h % 8 == 0, 2)
        .when(h % 4 == 0, 1)
        .otherwise(0)
    )
    f = msgs.select(k.alias("k"))
    w = (
        f.filter(F.col("k") > 0)
        .select(
            "k",
            F.explode(
                F.sequence(F.lit(0), F.lit(_BACKOFF_MAX_RETRIES - 1))
            ).alias("attempt"),
        )
        .filter(F.col("attempt") < F.col("k"))
        .select(
            "k",
            F.expr(
                f"least(shiftleft(CAST({_BACKOFF_BASE_MS} AS BIGINT), attempt),"
                f" CAST({_BACKOFF_CAP_MS} AS BIGINT))"
            ).alias("wait_ms"),
        )
    )
    out = w.groupBy("k").agg(
        F.expr("count(1) div k").cast("long").alias("n_messages"),
        F.sum("wait_ms").cast("long").alias("total_backoff_ms"),
        F.expr("sum(wait_ms) div (count(1) div k)")
        .cast("long")
        .alias("per_message_ms"),
    )
    return out.select(
        F.col("k").alias("n_retries"), "n_messages", "total_backoff_ms", "per_message_ms"
    )


# ------------------------------------------- rendezvous rebalance model

#: worker-pool sizes for the scale-up movement audit (W → W+1)
_RB_W = 8


def _rendezvous_sql(n_workers: int, m_alias: str) -> str:
    """CASE chain picking the argmax worker (ties → lowest index, though
    md5 ties are vanishingly rare) — mirrors the Spark fold exactly."""
    whens = "\n              ".join(
        f"WHEN h{w} = {m_alias} THEN {w}" for w in range(n_workers)
    )
    return f"CASE {whens} ELSE -1 END"


@register(
    "r_rebalance_rendezvous",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic || '/' || CAST(partition_id AS VARCHAR) || '/' ||
         CAST(segment_seq AS VARCHAR) AS item_key,
         CAST(sum(msg_size) AS BIGINT) AS bytes
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        "hashed AS (\n  SELECT bytes,\n         "
        + ",\n         ".join(
            portable_hash60_sql("item_key || '#%d'" % w) + f" AS h{w}"
            for w in range(_RB_W + 1)
        )
        + "\n  FROM seg\n)",
        f"""mx AS (
  SELECT *,
         greatest({', '.join(f'h{w}' for w in range(_RB_W))}) AS m8,
         greatest({', '.join(f'h{w}' for w in range(_RB_W + 1))}) AS m9
  FROM hashed
)""",
        f"""owners AS (
  SELECT bytes,
         {_rendezvous_sql(_RB_W, 'm8')} AS owner8,
         {_rendezvous_sql(_RB_W + 1, 'm9')} AS owner9
  FROM mx
)""",
        """pairs AS (
  SELECT owner8, owner9, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(bytes) AS BIGINT) AS b
  FROM owners GROUP BY owner8, owner9
)""",
        select=f"""
SELECT CAST(w AS BIGINT) AS worker,
       CAST(sum(CASE WHEN owner8 = w THEN n ELSE 0 END) AS BIGINT) AS n_items_w8,
       CAST(sum(CASE WHEN owner9 = w THEN n ELSE 0 END) AS BIGINT) AS n_items_w9,
       CAST(sum(CASE WHEN owner9 = w AND owner8 <> owner9 THEN n ELSE 0 END)
            AS BIGINT) AS moved_in,
       CAST(sum(CASE WHEN owner9 = w THEN b ELSE 0 END) AS BIGINT) AS bytes_w9
FROM pairs CROSS JOIN range(0, {_RB_W + 1}) t(w)
GROUP BY w
""",
    ),
    tags=("parity", "scalar"),
    doc="Rendezvous (highest-random-weight) segment→worker assignment "
    "model with a scale-up movement audit.  The reference delegates "
    "partition ownership to the consumer group's 'roundrobin,range' "
    "strategy (pkg/kafka/consumer.go:28-56,130) and re-plans work on "
    "AssignedPartitions/RevokedPartitions events (pkg/egress/"
    f"controller.go:118-127); this restates the assignment step over "
    f"compaction work items (segments) with rendezvous hashing — the "
    f"scale path, because round-robin needs a global rank (a sort) while "
    f"HRW is a per-item argmax over {_RB_W + 1} portable hashes, "
    "embarrassingly parallel and minimally-moving (expected moved "
    f"fraction 1/{_RB_W + 1} when a worker joins).  The plan aggregates "
    "to the tiny (owner8, owner9) pair grid FIRST, then cross-joins the "
    f"{_RB_W + 1}-row worker dimension — the fan-out never touches the "
    "item-scale frame.  Ties break to the lowest worker index on both "
    "engines (identical CASE order)",
)
def q_rebalance_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.sum("msg_size").cast("long").alias("bytes"))
        .select(
            F.concat_ws(
                "/",
                "topic",
                F.col("partition_id").cast("string"),
                F.col("segment_seq").cast("string"),
            ).alias("item_key"),
            "bytes",
        )
    )
    hs = [
        portable_hash60(F.concat(F.col("item_key"), F.lit(f"#{w}")))
        for w in range(_RB_W + 1)
    ]

    def owner(hs_w: list) -> F.Column:
        m = F.greatest(*hs_w)
        c = F.when(hs_w[0] == m, 0)
        for w in range(1, len(hs_w)):
            c = c.when(hs_w[w] == m, w)
        return c.otherwise(-1)

    owners = seg.select(
        "bytes", owner(hs[:_RB_W]).alias("owner8"), owner(hs).alias("owner9")
    )
    pairs = owners.groupBy("owner8", "owner9").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("bytes").cast("long").alias("b"),
    )
    workers = spark.range(_RB_W + 1).select(F.col("id").alias("worker"))
    grid = pairs.crossJoin(F.broadcast(workers))
    return grid.groupBy("worker").agg(
        F.sum(F.when(F.col("owner8") == F.col("worker"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_items_w8"),
        F.sum(F.when(F.col("owner9") == F.col("worker"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_items_w9"),
        F.sum(
            F.when(
                (F.col("owner9") == F.col("worker"))
                & (F.col("owner8") != F.col("owner9")),
                F.col("n"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("moved_in"),
        F.sum(F.when(F.col("owner9") == F.col("worker"), F.col("b")).otherwise(0))
        .cast("long")
        .alias("bytes_w9"),
    )


# -------------------------------------------- timestamp monotonicity

@register(
    "r_ts_monotonicity",
    with_ctes(
        MESSAGES_CTE,
        """lagged AS (
  SELECT topic, partition_id, ts_us,
         lag(ts_us) OVER (PARTITION BY topic, partition_id
                          ORDER BY msg_offset) AS prev_us
  FROM messages
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(sum(CASE WHEN prev_us > ts_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_regressions,
       CAST(coalesce(max(CASE WHEN prev_us > ts_us THEN prev_us - ts_us END), 0)
            AS BIGINT) AS max_regression_us
FROM lagged GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "scalar"),
    doc="per-partition timestamp monotonicity audit: count offset-ordered "
    "message pairs whose timestamp regresses, and the worst regression in "
    "µs.  The reference stamps each segment's footer with the extent's "
    "start/end timestamps (s3_parquet.go:234-316) and the compaction gap "
    "check assumes offset order is the stream order "
    "(compactor.go:219-221) — out-of-order producer timestamps are the "
    "one input that silently corrupts time-based pruning on top of those "
    "stamps, so the audit quantifies them.  The lag window is keyed by "
    "(topic, partition), the stream's native delivery grain — the same "
    "per-partition order every consumer already observes, never a global "
    "sort",
)
def q_ts_monotonicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    w = Window.partitionBy("topic", "partition_id").orderBy("msg_offset")
    lagged = msgs.select(
        "topic", "partition_id", "ts_us", F.lag("ts_us").over(w).alias("prev_us")
    )
    reg = F.when(F.col("prev_us") > F.col("ts_us"), 1).otherwise(0)
    return lagged.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum(reg).cast("long").alias("n_regressions"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("prev_us") > F.col("ts_us"),
                    F.col("prev_us") - F.col("ts_us"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_regression_us"),
    )


# ------------------------------------------- key cardinality profile

@register(
    "r_key_cardinality_profile",
    with_ctes(
        MESSAGES_CTE,
        """pk AS (
  SELECT topic, partition_id, msg_key, CAST(count(*) AS BIGINT) AS n_per_key
  FROM messages GROUP BY topic, partition_id, msg_key
)""",
        select="""
SELECT topic, partition_id,
       CAST(sum(n_per_key) AS BIGINT) AS n_msgs,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST((1000000 * count(*)) // sum(n_per_key) AS BIGINT)
         AS compaction_ratio_ppm,
       CAST(max(n_per_key) AS BIGINT) AS max_msgs_per_key
FROM pk GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "scalar"),
    doc="per-partition key-cardinality profile: distinct keys vs stream "
    "length, i.e. the EXACT size a log-compacted copy of the partition "
    "retains (compaction_ratio_ppm = 1e6·keys/msgs) plus the hottest "
    "key's message count.  This is the planning number behind the "
    "compacted-topic state scan (S5 — operators/checkpoints.py "
    "compacted_topic_state; reference checkpoint/consistent stores read "
    "compacted topics, pkg/stores/checkpoint_store.go:219-237): the "
    "retained-state volume is the key cardinality, not the stream "
    "length, and a hot key bounds per-key replay cost.  Two partial-"
    "aggregable groupBys, key grain then partition grain — both "
    "map-side combinable, no window, no join",
)
def q_key_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    pk = msgs.groupBy("topic", "partition_id", "msg_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_per_key")
    )
    return pk.groupBy("topic", "partition_id").agg(
        F.sum("n_per_key").cast("long").alias("n_msgs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.expr("CAST((1000000 * count(1)) div sum(n_per_key) AS BIGINT)").alias(
            "compaction_ratio_ppm"
        ),
        F.max("n_per_key").cast("long").alias("max_msgs_per_key"),
    )


# ------------------------------------------- F3 superseded-segment pop

#: L0 segment_seqs merged into the synthetic L1 segment (small enough
#: that every scale keeps at least one un-superseded L0 per partition)
_F3_MERGED_SEQS = 2


@register(
    "r_f3_superseded_pop",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        f"""l1 AS (
  SELECT topic, partition_id, max(end_offset) + 1 AS compact_floor
  FROM segments WHERE segment_seq < {_F3_MERGED_SEQS}
  GROUP BY topic, partition_id
)""",
        """qual AS (
  SELECT s.topic, s.partition_id
  FROM segments s JOIN l1 USING (topic, partition_id)
  WHERE s.end_offset >= l1.compact_floor
  GROUP BY s.topic, s.partition_id
)""",
        select="""
SELECT s.topic, s.partition_id, s.segment_seq, s.start_offset, s.end_offset,
       l1.compact_floor AS compact_floor,
       s.end_offset < l1.compact_floor AS superseded
FROM segments s JOIN l1 USING (topic, partition_id)
            JOIN qual USING (topic, partition_id)
""",
    ),
    tags=("parity", "filter"),
    doc="F3 superseded-segment pop driven through the REAL plan_compaction "
    "operator (upgrades F3 from pytest-only to oracle-checked): the first "
    f"{_F3_MERGED_SEQS} L0 segments per partition are merged into a "
    "synthetic L1 segment, the planner derives the resume floor from the "
    "level above the band (compactor.go:176-191) and pops in-band "
    "segments wholly below it (compactor.go:192-203) with "
    "include_superseded=True — popped rows must still surface so the "
    "post-merge delete covers them (filtering them out leaks storage).  "
    "The oracle restates floor+pop relationally INCLUDING the "
    "qualification (a partition with every segment superseded plans "
    "nothing, so its superseded rows are dropped too — min_count=1 "
    "reduces qualification to '>=1 unsuperseded segment'); the Spark side returns "
    "plan_compaction's own output, so the operator's floor join "
    "(broadcast, metadata-scale) and qualification path are what's "
    "verified",
)
def q_f3_superseded_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    l0 = segment_bounds(
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES), region="local", level=0
    )
    l1 = (
        l0.filter(F.col("segment_seq") < _F3_MERGED_SEQS)
        .groupBy("topic", "partition_id")
        .agg(
            F.min("start_offset").alias("start_offset"),
            F.max("end_offset").alias("end_offset"),
            F.sum("message_count").alias("message_count"),
            F.sum("size_bytes").alias("size_bytes"),
        )
        .select(
            F.lit("local").alias("region"),
            "topic",
            "partition_id",
            F.lit(1).cast("int").alias("level"),
            F.lit(0).cast("long").alias("segment_seq"),
            "start_offset",
            "end_offset",
            "message_count",
            "size_bytes",
        )
    )
    listing = l0.unionByName(l1)
    plan = plan_compaction(
        listing,
        min_level=0,
        max_level=0,
        min_count=1,
        max_count=10_000,
        min_bytes=1,
        max_bytes=1 << 40,
        include_superseded=True,
    )
    return plan.select(
        "topic",
        "partition_id",
        "segment_seq",
        "start_offset",
        "end_offset",
        "compact_floor",
        "superseded",
    )


# --------------------------------------------------- F5 age predicate

#: the age gate excludes segments closing within the most recent
#: 1/_F5_SPAN_DIV of the observed close-timestamp span (a relative
#: threshold — the corpus time span varies per scale factor, so a fixed
#: day count would degenerate to all-or-nothing)
_F5_SPAN_DIV = 3


@register(
    "r_f5_age_gate",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq,
         max(ts_us) AS close_ts_us,
         CAST(sum(msg_size) AS BIGINT) AS size_bytes
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""cut AS (
  SELECT ((max(close_ts_us) // 1000000)
          - ((max(close_ts_us) - min(close_ts_us)) // 1000000)
            // {_F5_SPAN_DIV}) * 1000000 AS c
  FROM seg
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_eligible,
       CAST(max(segment_seq) AS BIGINT) AS last_eligible_seq,
       CAST(sum(size_bytes) AS BIGINT) AS eligible_bytes
FROM seg, cut WHERE close_ts_us <= c
GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "filter"),
    doc="F5 age gate driven through the REAL plan_compaction operator "
    "(upgrades F5 from pytest-only to oracle-checked): each segment's "
    "modified_ts is its close timestamp, 'now' is pinned to the stream "
    f"head so cutoff = head − span/{_F5_SPAN_DIV} at whole-second grain "
    "(a RELATIVE threshold — the corpus spans ~19 days, so a fixed day "
    "count would be all-or-nothing; exact under the UTC session tz — "
    "the planner's `modified_ts <= cutoff` literal compare equals the "
    "oracle's integer-µs compare), "
    "and only old-enough segments survive into the plan "
    "(compactor.go age config, pkg/compaction/config.go:29-39).  The "
    "head timestamp is ONE scalar collect (metadata-scale, the "
    "documented bounded-collect pattern); everything else is the "
    "operator's own broadcast-floor/qualification plan",
)
def q_f5_age_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timedelta, timezone

    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
            F.count(F.lit(1)).alias("message_count"),
            F.sum("msg_size").cast("long").alias("size_bytes"),
            F.max("ts_us").alias("close_ts_us"),
        )
        .select(
            F.lit("local").alias("region"),
            "topic",
            "partition_id",
            F.lit(0).cast("int").alias("level"),
            "segment_seq",
            "start_offset",
            "end_offset",
            "message_count",
            "size_bytes",
            "close_ts_us",
            F.timestamp_micros(F.col("close_ts_us")).alias("modified_ts"),
        )
    )
    head_us, low_us = seg.agg(
        F.max("close_ts_us"), F.min("close_ts_us")
    ).head()
    cutoff_s = head_us // 1_000_000 - ((head_us - low_us) // 1_000_000) // _F5_SPAN_DIV
    plan = plan_compaction(
        seg,
        min_level=0,
        max_level=0,
        min_count=1,
        max_count=10_000,
        min_bytes=1,
        max_bytes=1 << 40,
        min_age=timedelta(hours=1),
        # tz-AWARE: py4j converts naive datetime literals through
        # time.mktime in the driver's OS timezone (the session-tz
        # setting does NOT apply to literal conversion) — aware
        # datetimes take the calendar.timegm path and stay exact
        now=datetime.fromtimestamp(cutoff_s + 3600, tz=timezone.utc),
    )
    return plan.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eligible"),
        F.max("segment_seq").cast("long").alias("last_eligible_seq"),
        F.sum("size_bytes").cast("long").alias("eligible_bytes"),
    )


# ------------------------------------------------- T5 first-segment delay

#: span-relative T5 knobs: the gate evaluates at now = lo + span/2 with
#: delay = span/8 (the corpus spans ~19 days, so fixed wall-clock knobs
#: like the reference's 30 min default would be all-or-nothing here)
_T5_NOW_DIV = 2
_T5_DELAY_DIV = 8


@register(
    "r_t5_first_delay",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq,
         min(msg_offset) AS start_offset, max(ts_us) AS close_ts_us
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        "b AS (SELECT min(close_ts_us) AS lo, max(close_ts_us) AS hi FROM seg)",
        """heads AS (
  SELECT topic, partition_id,
         min(start_offset) AS head_start_offset,
         CAST(min_by(segment_seq, start_offset) AS BIGINT) AS head_seq,
         min_by(close_ts_us, start_offset) AS head_close_ts_us
  FROM seg GROUP BY topic, partition_id
)""",
        select=f"""
SELECT topic, partition_id, head_seq, head_start_offset, head_close_ts_us,
       head_close_ts_us + (hi - lo) // {_T5_DELAY_DIV} AS release_at_us,
       CAST(CASE WHEN lo + (hi - lo) // {_T5_NOW_DIV}
                      >= head_close_ts_us + (hi - lo) // {_T5_DELAY_DIV}
                 THEN 1 ELSE 0 END AS INT) AS released,
       GREATEST(CAST(0 AS BIGINT),
                head_close_ts_us + (hi - lo) // {_T5_DELAY_DIV}
                - (lo + (hi - lo) // {_T5_NOW_DIV})) AS wait_us
FROM heads, b
""",
    ),
    tags=("parity", "streaming-policy"),
    doc="T5 FirstSegmentDelay gate restated relationally (upgrades T5 from "
    "pytest-only to oracle-checked): per partition the O1 heap-HEAD segment "
    "(min start_offset — segments are disjoint so the asc-start/desc-end "
    "heap order degenerates to min) is held until now >= head_ts + delay "
    "(reference pkg/ingress/worker.go:98-108 getFirst, config.go:32-40 "
    "FirstSegmentDelay=30m default; wall-clock engine analog "
    "streaming/ingress_stream.py first_seen_ts gate, t-tested).  'now' and "
    f"the delay are span-relative (lo + span/{_T5_NOW_DIV}, "
    f"span/{_T5_DELAY_DIV}) so the gate discriminates at every scale "
    "factor; release_at/wait are exact integer-µs arithmetic on both "
    "engines.  The span bounds are ONE 2-scalar collect (metadata-scale, "
    "the documented bounded-collect pattern).",
)
def q_t5_first_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = events_as_messages(spark, sf_dir)
    seg = track_cached(  # feeds the bounds collect AND the heads plan
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("ts_us").alias("close_ts_us"),
        )
    )
    lo, hi = seg.agg(F.min("close_ts_us"), F.max("close_ts_us")).head()
    span = hi - lo
    delay_us = span // _T5_DELAY_DIV
    now_us = lo + span // _T5_NOW_DIV
    heads = seg.groupBy("topic", "partition_id").agg(
        F.min("start_offset").alias("head_start_offset"),
        F.min_by("segment_seq", "start_offset").cast("long").alias("head_seq"),
        F.min_by("close_ts_us", "start_offset").alias("head_close_ts_us"),
    )
    release_at = F.col("head_close_ts_us") + F.lit(delay_us)
    return heads.select(
        "topic",
        "partition_id",
        "head_seq",
        "head_start_offset",
        "head_close_ts_us",
        release_at.alias("release_at_us"),
        (F.lit(now_us) >= release_at).cast("int").alias("released"),
        F.greatest(F.lit(0).cast("long"), release_at - F.lit(now_us)).alias(
            "wait_us"
        ),
    )


# ---------------------------------------------------- T14 cron schedule

#: fixed UTC evaluation window for the cron grid: 2026-02-26 00:00 →
#: +10 days (spans the Feb→Mar month rollover so dom/month edges and the
#: missing Feb 29 of a non-leap year are exercised), in epoch minutes
_CRON_GRID_START_MIN = 29_534_400
_CRON_GRID_MINUTES = 14_400

#: literal spec catalog (6-field robfig/cron syntax, seconds pinned to 0
#: so every fire lands on the minute grid): step, fixed daily, dom-only,
#: dow-only, the dom-OR-dow quirk, and comma/dom-edge lists
_CRON_SPECS = (
    ("daily_0330", "0 30 3 * * *"),
    ("dom_edges", "0 0 6 27,29,31 2,3 *"),
    ("monday_8", "0 0 8 * * 1"),
    ("noon_first", "0 0 12 1 * *"),
    ("or_quirk", "0 5 0 1 * 1"),
    ("quarter_hourly", "0 */15 * * * *"),
)


def _cron_clause(expr: str) -> str:
    """SQL match predicate over (mi, hh, dm, mo, dw) columns for one cron
    spec, with the field sets expanded by the REAL CronSchedule.parse —
    the parity query drives the operator's own parser, the grid only
    restates its matching rule relationally."""
    from kafka_replicator_spark.operators.controller import CronSchedule

    cs = CronSchedule.parse(expr)

    def inlist(col: str, vals) -> str:
        return f"{col} IN ({','.join(str(v) for v in sorted(vals))})"

    parts = [inlist("mi", cs.minutes), inlist("hh", cs.hours), inlist("mo", cs.months)]
    if cs.dom_star and cs.dow_star:
        day = "TRUE"
    elif cs.dom_star:
        day = inlist("dw", cs.dows)
    elif cs.dow_star:
        day = inlist("dm", cs.doms)
    else:  # both restricted: cron's OR quirk
        day = f"({inlist('dm', cs.doms)} OR {inlist('dw', cs.dows)})"
    parts.append(day)
    return " AND ".join(parts)


def _cron_grid_oracle() -> str:
    per_spec = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS spec, CAST(count(*) AS BIGINT) AS n_fires,"
        f" CAST(min(m) AS BIGINT) AS first_fire_min,"
        f" CAST(max(m) AS BIGINT) AS last_fire_min"
        f" FROM fields WHERE {_cron_clause(expr)}"
        for name, expr in _CRON_SPECS
    )
    return f"""
WITH grid AS (
  SELECT unnest(range({_CRON_GRID_START_MIN},
                      {_CRON_GRID_START_MIN + _CRON_GRID_MINUTES})) AS m
),
fields AS (
  SELECT m,
         minute(make_timestamp(m * 60000000)) AS mi,
         hour(make_timestamp(m * 60000000)) AS hh,
         day(make_timestamp(m * 60000000)) AS dm,
         month(make_timestamp(m * 60000000)) AS mo,
         dayofweek(make_timestamp(m * 60000000)) AS dw
  FROM grid
)
SELECT * FROM ({per_spec}) ORDER BY spec
"""


@register(
    "r_t14_cron_grid",
    _cron_grid_oracle(),
    tags=("parity", "scheduling"),
    doc="T14 cron schedule restated relationally (upgrades T14 from "
    "pytest-only to oracle-checked): each spec's field sets are expanded "
    "by the REAL CronSchedule.parse (operators/controller.py — "
    "robfig/cron numeric core, reference pkg/compaction/config.go:140-150 "
    "controller.go:99-239), then matched against a 10-day UTC minute grid "
    "spanning the Feb→Mar 2026 rollover, including the dom-OR-dow quirk "
    "and a missing-Feb-29 edge.  Both engines evaluate the IDENTICAL "
    "generated predicate text; calendar fields come from each engine's "
    "timestamp functions under UTC (DuckDB dayofweek is 0-based = cron "
    "dow; Spark's is 1-based, shifted by 1).  "
    "tests/test_controller.py cross-checks the grid against "
    "CronSchedule.next_fire iteration, tying the walk-based scheduler to "
    "the relational form.  6-row output",
)
def q_t14_cron_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(
        _CRON_GRID_START_MIN, _CRON_GRID_START_MIN + _CRON_GRID_MINUTES
    ).select(F.col("id").alias("m"))
    ts = F.timestamp_micros(F.col("m") * 60_000_000)
    fields = grid.select(
        "m",
        F.minute(ts).alias("mi"),
        F.hour(ts).alias("hh"),
        F.dayofmonth(ts).alias("dm"),
        F.month(ts).alias("mo"),
        (F.dayofweek(ts) - 1).alias("dw"),
    )
    from kafka_replicator_spark.cacheutil import track_cached

    fields = track_cached(fields)  # 14.4k rows feed one filter per spec
    per_spec = None
    for name, expr in _CRON_SPECS:
        one = (
            fields.filter(F.expr(_cron_clause(expr)))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_fires"),
                F.min("m").cast("long").alias("first_fire_min"),
                F.max("m").cast("long").alias("last_fire_min"),
            )
            .select(
                F.lit(name).alias("spec"), "n_fires", "first_fire_min", "last_fire_min"
            )
        )
        per_spec = one if per_spec is None else per_spec.unionAll(one)
    return per_spec.orderBy("spec")


# ----------------------------------------------- X4 URL-decode roundtrip

#: (literal, escape) pairs applied in order — '%' FIRST so every '%' in
#: the encoded text starts a valid escape sequence
_X4_ESCAPES = (
    ("%", "%25"),
    ("+", "%2B"),  # url_decode is form-urlencoded: a raw '+' decodes to
    # space, so it MUST be escaped for the roundtrip invariant to be
    # corpus-independent (the current corpus has no '+', a future
    # regeneration might)
    (" ", "%20"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    (":", "%3A"),
)


def _x4_encode_sql(expr: str) -> str:
    for lit, esc in _X4_ESCAPES:
        lit_sql = lit.replace("'", "''")
        expr = f"replace({expr}, '{lit_sql}', '{esc}')"
    return expr


@register(
    "r_x4_url_roundtrip",
    with_ctes(
        MESSAGES_CTE,
        f"""enc AS (
  SELECT topic, partition_id, payload,
         {_x4_encode_sql('payload')} AS encoded
  FROM messages
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(count(*) AS BIGINT) AS n_roundtrip_ok,
       CAST(sum(length(encoded) - length(payload)) AS BIGINT)
         AS escape_overhead_chars
FROM enc GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "scalar"),
    doc="X4 URL-decode roundtrip audit (upgrades X4 from pytest-only to "
    "oracle-checked; reference sqs_segment_event_source.go:334-339 "
    "percent-decodes S3 object keys): each payload is percent-encoded "
    "with an identical replace chain on BOTH engines ('%' escaped "
    "first, so every '%' in the encoded text opens a valid escape), "
    "then Spark's url_decode must recover the original byte-for-byte.  "
    "This is a known-answer oracle: DuckDB has no url_decode, so the "
    "oracle asserts the roundtrip invariant (n_roundtrip_ok = all "
    "rows) — any url_decode defect (e.g. mishandling %XX case or '+' "
    "semantics) makes the Spark count fall short and the hash compare "
    "fail.  Pure per-row column math, one partition-grain aggregate",
)
def q_url_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    # the replace() chain text is engine-portable — ONE builder serves
    # both sides, so the known-answer symmetry can never diverge
    enc_expr = _x4_encode_sql("payload")
    enc = msgs.select(
        "topic",
        "partition_id",
        "payload",
        F.expr(enc_expr).alias("encoded"),
    )
    ok = F.when(F.expr("url_decode(encoded)") == F.col("payload"), 1).otherwise(0)
    return enc.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum(ok).cast("long").alias("n_roundtrip_ok"),
        F.sum(F.expr("length(encoded) - length(payload)"))
        .cast("long")
        .alias("escape_overhead_chars"),
    )


# --------------------------------------------- O4 subscribe order + RR

#: round-robin consumer-group width for the assignment column
_O4_WORKERS = 2


@register(
    "r_o4_subscribe_order",
    with_ctes(
        MESSAGES_CTE,
        """tp AS (SELECT DISTINCT topic, partition_id FROM messages)""",
        select=f"""
SELECT topic, partition_id,
       CAST(row_number() OVER (ORDER BY topic, partition_id) AS BIGINT)
         AS subscribe_rank,
       CAST((row_number() OVER (ORDER BY topic, partition_id) - 1)
            % {_O4_WORKERS} AS BIGINT) AS worker_rr
FROM tp
""",
    ),
    tags=("parity", "projection"),
    doc="O4 deterministic subscribe order + the 'roundrobin' half of the "
    "reference's partition assignment strategy (pkg/kafka/"
    "consumer.go:28-29 'roundrobin,range'): the distinct "
    "(topic, partition) universe sorted lexicographically — the order "
    "every group member must agree on for the strategy to be "
    f"consistent — and the rank's round-robin worker over "
    f"{_O4_WORKERS} consumers.  The global rank window here is "
    "CORRECT at scale, unlike for segments: the frame is the topic-"
    "partition CATALOG (thousands of rows at 100 TB, not billions) — "
    "rendezvous (r_rebalance_rendezvous) remains the per-item scale "
    "path for work items; catalog-cardinality output",
)
def q_subscribe_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    tp = msgs.select("topic", "partition_id").distinct()
    w = Window.orderBy("topic", "partition_id")
    rn = F.row_number().over(w)
    return tp.select(
        "topic",
        "partition_id",
        rn.cast("long").alias("subscribe_rank"),
        ((rn - 1) % _O4_WORKERS).cast("long").alias("worker_rr"),
    )


# ----------------------------------------------- S4 notification parse

#: fault-injection modulus for the S4 parse matrix (see r_s4_event_parse)
_S4_FAULT_MOD = 16


@register(
    "r_s4_event_parse",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq,
         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset,
         max(ts_us) AS close_ts_us, CAST(sum(msg_size) AS BIGINT) AS size_bytes
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""h AS (
  SELECT *, {portable_hash60_sql(
      "topic || ':' || CAST(partition_id AS VARCHAR)"
      " || ':' || CAST(segment_seq AS VARCHAR)")} AS hv
  FROM seg
)""",
        select=f"""
SELECT 'local' AS region, topic, partition_id, CAST(0 AS INTEGER) AS level,
       start_offset, end_offset,
       CASE WHEN (hv // {_S4_FAULT_MOD}) % 2 = 0 THEN 'CREATED'
            ELSE 'REMOVED' END AS event_type,
       close_ts_us AS ts_us, size_bytes
FROM h WHERE hv % {_S4_FAULT_MOD} >= 6
""",
    ),
    tags=("parity", "projection"),
    doc="S4 S3-notification→SegmentEvent parse driven end-to-end against "
    "a relational oracle: one bucket-notification JSON body per derived "
    "segment, with the reference's full invalid-record matrix "
    "(sqs_segment_event_source.go:297-371) injected deterministically "
    "from the portable hash — poison receive-count (handling loop "
    ":250-270), unknown eventSource (:308), unknown eventName "
    "(:315-323), malformed eventTime (:325), non-segment object key "
    "(:334), and a non-notification s3:TestEvent body.  The REAL "
    "parse_s3_notification_events (from_json + try_url_decode + path "
    "codec — S4/X1/X4 composed) must emit EXACTLY the valid subset with "
    "every field recovered: the object key is percent-encoded "
    "('e'→'%65') before parsing, so the url-decode path is live on "
    "every record, and the oracle states the expected survivors "
    "directly from the same hash arithmetic (known-answer form — the "
    "oracle never parses JSON).  Any divergence in the filter matrix "
    "OR the parsed fields breaks the row/hash compare",
)
def q_s4_event_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.sources.notifications import (
        parse_s3_notification_events,
    )

    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
            F.max("ts_us").alias("close_ts_us"),
            F.sum("msg_size").cast("long").alias("size_bytes"),
        )
    )
    hv = portable_hash60(
        F.concat_ws(
            ":",
            F.col("topic"),
            F.col("partition_id").cast("string"),
            F.col("segment_seq").cast("string"),
        )
    )
    seg = seg.withColumn("hv", hv).withColumn(
        "b", F.col("hv") % F.lit(_S4_FAULT_MOD)
    )
    raw_key = F.concat(
        F.lit("data/local/"),
        F.col("topic"),
        F.lit("/"),
        F.col("partition_id").cast("string"),
        F.lit("/0/"),
        F.lpad(F.col("start_offset").cast("string"), 20, "0"),
        F.lit("-"),
        F.lpad(F.col("end_offset").cast("string"), 20, "0"),
        F.lit(".parquet"),
    )
    key = F.when(F.col("b") == 4, F.lit("garbage/key")).otherwise(raw_key)
    # percent-encode a letter that appears in every key so try_url_decode
    # does real work on every record (decode must recover the original)
    enc_key = F.replace(key, F.lit("e"), F.lit("%65"))
    src = F.when(F.col("b") == 1, F.lit("aws:sqs")).otherwise(F.lit("aws:s3"))
    name = (
        F.when(F.col("b") == 2, F.lit("ObjectAccessed:Get"))
        .when(
            F.expr(f"(hv div {_S4_FAULT_MOD}) % 2") == 0,
            F.lit("ObjectCreated:Put"),
        )
        .otherwise(F.lit("ObjectRemoved:Delete"))
    )
    tstr = F.when(F.col("b") == 3, F.lit("not-a-time")).otherwise(
        F.date_format(F.timestamp_micros(F.col("close_ts_us")), _RFC3339_SPARK)
    )
    body = F.when(
        F.col("b") == 5,
        F.lit('{"Service":"Amazon S3","Event":"s3:TestEvent"}'),
    ).otherwise(
        F.format_string(
            '{"Records":[{"eventSource":"%s","eventName":"%s",'
            '"eventTime":"%s","s3":{"object":{"key":"%s","size":%d}}}]}',
            src,
            name,
            tstr,
            enc_key,
            F.col("size_bytes"),
        )
    )
    rc = F.when(F.col("b") == 0, F.lit(4)).otherwise(
        (F.lit(1) + F.col("hv") % 3).cast("int")
    )
    bodies = seg.select(body.alias("body"), rc.alias("receive_count"))
    out = parse_s3_notification_events(
        bodies, receive_count_col="receive_count", max_receives=3
    )
    return out.select(
        "region",
        "topic",
        "partition_id",
        "level",
        "start_offset",
        "end_offset",
        "event_type",
        F.unix_micros(F.col("event_ts")).alias("ts_us"),
        "size_bytes",
    )


# ------------------------------------------- T8 checkpoint staleness

#: a checkpoint is published every Nth segment close in the staleness model
_CKPT_EVERY = 5


@register(
    "r_checkpoint_staleness",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq,
         max(msg_offset) AS end_offset
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        select=f"""
SELECT topic, partition_id,
       CAST(max(end_offset) AS BIGINT) AS head_offset,
       CAST(coalesce(max(CASE WHEN segment_seq % {_CKPT_EVERY} = {_CKPT_EVERY - 1}
                              THEN end_offset END), -1) AS BIGINT)
         AS last_ckpt_offset,
       CAST(max(end_offset)
            - coalesce(max(CASE WHEN segment_seq % {_CKPT_EVERY} = {_CKPT_EVERY - 1}
                                THEN end_offset END), -1) AS BIGINT)
         AS staleness_msgs,
       CAST(max(segment_seq)
            - coalesce(max(CASE WHEN segment_seq % {_CKPT_EVERY} = {_CKPT_EVERY - 1}
                                THEN segment_seq END), -1) AS BIGINT)
         AS n_uncheckpointed_segments
FROM seg GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "aggregation"),
    doc="T8 checkpoint staleness audit: with a checkpoint published every "
    f"{_CKPT_EVERY}th segment close (the reference checkpoints per "
    "produce batch — pkg/ingress/worker.go:118-122 — and replays "
    "everything past the last checkpoint on restart), report per "
    "partition how far the stream head has run ahead of the last "
    "checkpoint in messages and in whole segments — EXACTLY the "
    "recovery replay cost the resume path (r_t9_resume_replay) pays.  "
    "One groupBy over the segment frame, conditional aggregates only; "
    "partitions that never reached a checkpoint boundary report the "
    "full head (-1 sentinel floor)",
)
def q_checkpoint_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.max("msg_offset").alias("end_offset"))
    )
    is_ckpt = f"segment_seq % {_CKPT_EVERY} = {_CKPT_EVERY - 1}"
    return seg.groupBy("topic", "partition_id").agg(
        F.max("end_offset").cast("long").alias("head_offset"),
        F.expr(
            f"CAST(coalesce(max(CASE WHEN {is_ckpt} THEN end_offset END), -1)"
            " AS BIGINT)"
        ).alias("last_ckpt_offset"),
        F.expr(
            "CAST(max(end_offset)"
            f" - coalesce(max(CASE WHEN {is_ckpt} THEN end_offset END), -1)"
            " AS BIGINT)"
        ).alias("staleness_msgs"),
        F.expr(
            "CAST(max(segment_seq)"
            f" - coalesce(max(CASE WHEN {is_ckpt} THEN segment_seq END), -1)"
            " AS BIGINT)"
        ).alias("n_uncheckpointed_segments"),
    )


# --------------------------------------- M1 write-amplification model

#: segments per compaction input window in the amplification model
#: (the reference's MinSegmentCount default — pkg/compaction/config.go:33)
_WA_FANIN = 10


@register(
    "r_write_amplification",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """l0 AS (
  SELECT topic, partition_id, segment_seq,
         CAST(sum(msg_size) AS BIGINT) AS b0
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""l1 AS (
  SELECT topic, partition_id, segment_seq // {_WA_FANIN} AS g1,
         CAST(sum(b0) AS BIGINT) AS b1,
         CAST(count(*) AS BIGINT) AS n_in
  FROM l0 GROUP BY topic, partition_id, segment_seq // {_WA_FANIN}
)""",
        f"""l1f AS (SELECT * FROM l1 WHERE n_in = {_WA_FANIN})""",
        f"""l2 AS (
  SELECT topic, partition_id, g1 // {_WA_FANIN} AS g2,
         CAST(sum(b1) AS BIGINT) AS b2,
         CAST(count(*) AS BIGINT) AS n_in
  FROM l1f GROUP BY topic, partition_id, g1 // {_WA_FANIN}
)""",
        f"""l2f AS (SELECT * FROM l2 WHERE n_in = {_WA_FANIN})""",
        """agg AS (
  SELECT l0.topic, l0.partition_id,
         CAST(sum(b0) AS BIGINT) AS raw_bytes,
         coalesce((SELECT CAST(sum(b1) AS BIGINT) FROM l1f
                   WHERE l1f.topic = l0.topic
                     AND l1f.partition_id = l0.partition_id), 0) AS l1_bytes,
         coalesce((SELECT CAST(count(*) AS BIGINT) FROM l1f
                   WHERE l1f.topic = l0.topic
                     AND l1f.partition_id = l0.partition_id), 0) AS n_l1_merges,
         coalesce((SELECT CAST(sum(b2) AS BIGINT) FROM l2f
                   WHERE l2f.topic = l0.topic
                     AND l2f.partition_id = l0.partition_id), 0) AS l2_bytes,
         coalesce((SELECT CAST(count(*) AS BIGINT) FROM l2f
                   WHERE l2f.topic = l0.topic
                     AND l2f.partition_id = l0.partition_id), 0) AS n_l2_merges
  FROM l0 GROUP BY l0.topic, l0.partition_id
)""",
        select="""
SELECT topic, partition_id, raw_bytes, l1_bytes, l2_bytes,
       n_l1_merges, n_l2_merges,
       CAST((1000000 * (raw_bytes::HUGEINT + l1_bytes + l2_bytes))
            // raw_bytes AS BIGINT) AS write_amp_ppm
FROM agg
""",
    ),
    tags=("parity", "aggregation"),
    doc="M1 write-amplification model of the two-level compaction "
    "geometry: L0 segments merge in windows of "
    f"{_WA_FANIN} (the reference's MinSegmentCount default — "
    "pkg/compaction/config.go:33), full L1 outputs merge again in "
    f"windows of {_WA_FANIN} (A4 level bump — compactor.go), and every "
    "byte rewritten at each level counts once — write_amp_ppm = "
    "1e6·(L0+L1+L2 bytes)//L0 bytes, the S3 PUT-volume multiplier a "
    "capacity plan needs (bounded by 1 + 1/1 + 1/1 ≈ 3e6 ppm here; "
    "the general geometric bound is levels+1).  Partial tail windows "
    "(< fan-in inputs) don't merge, exactly like the reference's "
    "MinSegmentCount gate; HUGEINT/DECIMAL lift on the ppm numerator",
)
def q_write_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    l0 = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.sum("msg_size").cast("long").alias("b0"))
    )
    from kafka_replicator_spark.cacheutil import track_cached

    l0 = track_cached(l0)  # feeds the raw rollup AND the l1 grouping
    l1 = l0.groupBy(
        "topic",
        "partition_id",
        (F.col("segment_seq") / _WA_FANIN).cast("long").alias("g1"),
    ).agg(
        F.sum("b0").cast("long").alias("b1"),
        F.count(F.lit(1)).cast("long").alias("n_in"),
    )
    l1f = l1.where(F.col("n_in") == _WA_FANIN)
    l2 = l1f.groupBy(
        "topic",
        "partition_id",
        (F.col("g1") / _WA_FANIN).cast("long").alias("g2"),
    ).agg(
        F.sum("b1").cast("long").alias("b2"),
        F.count(F.lit(1)).cast("long").alias("n_in"),
    )
    l2f = l2.where(F.col("n_in") == _WA_FANIN)
    raw = l0.groupBy("topic", "partition_id").agg(
        F.sum("b0").cast("long").alias("raw_bytes")
    )
    a1 = l1f.groupBy("topic", "partition_id").agg(
        F.sum("b1").cast("long").alias("l1_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_l1_merges"),
    )
    a2 = l2f.groupBy("topic", "partition_id").agg(
        F.sum("b2").cast("long").alias("l2_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_l2_merges"),
    )
    out = (
        raw.join(a1, ["topic", "partition_id"], "left")
        .join(a2, ["topic", "partition_id"], "left")
        .select(
            "topic",
            "partition_id",
            "raw_bytes",
            F.coalesce("l1_bytes", F.lit(0)).cast("long").alias("l1_bytes"),
            F.coalesce("l2_bytes", F.lit(0)).cast("long").alias("l2_bytes"),
            F.coalesce("n_l1_merges", F.lit(0)).cast("long").alias("n_l1_merges"),
            F.coalesce("n_l2_merges", F.lit(0)).cast("long").alias("n_l2_merges"),
        )
    )
    return out.select(
        "topic",
        "partition_id",
        "raw_bytes",
        "l1_bytes",
        "l2_bytes",
        "n_l1_merges",
        "n_l2_merges",
        F.expr(
            "CAST((1000000 * (CAST(raw_bytes AS DECIMAL(38,0))"
            " + l1_bytes + l2_bytes)) div raw_bytes AS BIGINT)"
        ).alias("write_amp_ppm"),
    )


#: L2 segment capacity in messages: two full fan-in levels over the
#: SEG_MAX_MESSAGES rollover — the densest packing the geometry can reach
_RA_L2_CAP = _WA_FANIN * _WA_FANIN * SEG_MAX_MESSAGES


@register(
    "r_read_amplification",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """l0 AS (
  SELECT topic, partition_id, segment_seq FROM tagged
  GROUP BY topic, partition_id, segment_seq
)""",
        f"""l1 AS (
  SELECT topic, partition_id, segment_seq // {_WA_FANIN} AS g1,
         CAST(count(*) AS BIGINT) AS n_in
  FROM l0 GROUP BY topic, partition_id, segment_seq // {_WA_FANIN}
)""",
        f"""l1f AS (SELECT * FROM l1 WHERE n_in = {_WA_FANIN})""",
        f"""l2 AS (
  SELECT topic, partition_id, g1 // {_WA_FANIN} AS g2,
         CAST(count(*) AS BIGINT) AS n_in
  FROM l1f GROUP BY topic, partition_id, g1 // {_WA_FANIN}
)""",
        f"""l2f AS (SELECT * FROM l2 WHERE n_in = {_WA_FANIN})""",
        """c0 AS (SELECT topic, partition_id, CAST(count(*) AS BIGINT) AS n_l0
      FROM l0 GROUP BY topic, partition_id)""",
        """c1 AS (SELECT topic, partition_id, CAST(count(*) AS BIGINT) AS n_l1f
      FROM l1f GROUP BY topic, partition_id)""",
        """c2 AS (SELECT topic, partition_id, CAST(count(*) AS BIGINT) AS n_l2f
      FROM l2f GROUP BY topic, partition_id)""",
        """nm AS (SELECT topic, partition_id, CAST(count(*) AS BIGINT) AS n_msgs
      FROM tagged GROUP BY topic, partition_id)""",
        f"""live AS (
  SELECT c0.topic, c0.partition_id, nm.n_msgs,
         c0.n_l0 - {_WA_FANIN} * coalesce(c1.n_l1f, 0) AS live_l0,
         coalesce(c1.n_l1f, 0) - {_WA_FANIN} * coalesce(c2.n_l2f, 0) AS live_l1,
         coalesce(c2.n_l2f, 0) AS live_l2
  FROM c0
  JOIN nm ON nm.topic = c0.topic AND nm.partition_id = c0.partition_id
  LEFT JOIN c1 ON c1.topic = c0.topic AND c1.partition_id = c0.partition_id
  LEFT JOIN c2 ON c2.topic = c0.topic AND c2.partition_id = c0.partition_id
)""",
        select=f"""
SELECT topic, partition_id, n_msgs,
       CAST(live_l0 AS BIGINT) AS live_l0,
       CAST(live_l1 AS BIGINT) AS live_l1,
       CAST(live_l2 AS BIGINT) AS live_l2,
       CAST(live_l0 + live_l1 + live_l2 AS BIGINT) AS files_per_scan,
       CAST((n_msgs + {_RA_L2_CAP} - 1) // {_RA_L2_CAP} AS BIGINT) AS ideal_segments,
       CAST((CAST(live_l0 + live_l1 + live_l2 AS HUGEINT) * 1000000)
            // ((n_msgs + {_RA_L2_CAP} - 1) // {_RA_L2_CAP}) AS BIGINT)
           AS read_amp_ppm
FROM live
""",
    ),
    tags=("parity", "aggregation"),
    doc="read-amplification twin of r_write_amplification (VERDICT r09 "
    "#7): for the same two-level fan-in geometry, a full-partition replay "
    "opens every LIVE segment — L0 leftovers in partial merge windows, L1 "
    "outputs not yet consumed by a full L2 window, and L2 outputs (full "
    f"windows consume exactly {_WA_FANIN} inputs, so live counts fall out "
    "of the merge counts alone) — versus the ideal layout packed at L2 "
    f"capacity ({_RA_L2_CAP} msgs/segment): read_amp_ppm = 1e6·files // "
    "ideal, the S3 GET-count multiplier of the compaction schedule; "
    "HUGEINT/DECIMAL lift on the ppm numerator",
)
def q_read_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    from kafka_replicator_spark.cacheutil import track_cached

    l0 = track_cached(
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.count(F.lit(1)).cast("long").alias("n_seg_msgs"))
    )  # feeds the l0 count, the l1 grouping AND the per-partition msg count
    l1 = l0.groupBy(
        "topic",
        "partition_id",
        (F.col("segment_seq") / _WA_FANIN).cast("long").alias("g1"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    l1f = l1.where(F.col("n_in") == _WA_FANIN)
    l2 = l1f.groupBy(
        "topic",
        "partition_id",
        (F.col("g1") / _WA_FANIN).cast("long").alias("g2"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    l2f = l2.where(F.col("n_in") == _WA_FANIN)
    c0 = l0.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_l0"),
        F.sum("n_seg_msgs").cast("long").alias("n_msgs"),
    )
    c1 = l1f.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_l1f")
    )
    c2 = l2f.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_l2f")
    )
    live = (
        c0.join(c1, ["topic", "partition_id"], "left")
        .join(c2, ["topic", "partition_id"], "left")
        .select(
            "topic",
            "partition_id",
            "n_msgs",
            (F.col("n_l0") - _WA_FANIN * F.coalesce("n_l1f", F.lit(0)))
            .cast("long")
            .alias("live_l0"),
            (F.coalesce("n_l1f", F.lit(0)) - _WA_FANIN * F.coalesce("n_l2f", F.lit(0)))
            .cast("long")
            .alias("live_l1"),
            F.coalesce("n_l2f", F.lit(0)).cast("long").alias("live_l2"),
        )
    )
    return live.select(
        "topic",
        "partition_id",
        "n_msgs",
        "live_l0",
        "live_l1",
        "live_l2",
        (F.col("live_l0") + F.col("live_l1") + F.col("live_l2"))
        .cast("long")
        .alias("files_per_scan"),
        F.expr(f"(n_msgs + {_RA_L2_CAP} - 1) div {_RA_L2_CAP}").alias("ideal_segments"),
        F.expr(
            f"CAST((CAST(live_l0 + live_l1 + live_l2 AS DECIMAL(38,0)) * 1000000)"
            f" div ((n_msgs + {_RA_L2_CAP} - 1) div {_RA_L2_CAP}) AS BIGINT)"
        ).alias("read_amp_ppm"),
    )


# ------------------------------------------- X5 protobuf checkpoint codec

#: varint byte-length boundaries: both sides of every 7-bit-group
#: transition from 1 to 9 encoded bytes, plus the int64 maximum (10-byte
#: varints need unsigned v >= 2^63, unreachable from non-negative BIGINT)
_X5_BOUNDARY_OFFSETS = (
    [0, 1]
    + [v for k in range(1, 9) for v in ((1 << (7 * k)) - 1, 1 << (7 * k))]
    + [(1 << 63) - 1]
)

#: fixed timestamp for the matrix rows (nanos; exercises a 5-byte seconds
#: varint and a 5-byte nanos varint); row 0 uses ts=0 (empty submessage)
_X5_TS_NS = 1_700_000_000_123_456_789


def _vlen_sql(e: str) -> str:
    """Varint byte length of the non-negative BIGINT expression ``e``."""
    cases = " ".join(
        f"WHEN {e} < {1 << (7 * k)} THEN {k}" for k in range(1, 9)
    )
    return f"(CASE {cases} ELSE 9 END)"


def _x5_oracle() -> str:
    values = ", ".join(
        f"({i}, {off})" for i, off in enumerate(_X5_BOUNDARY_OFFSETS)
    )
    vlen_p = _vlen_sql("partition_id")
    vlen_o = _vlen_sql("msg_offset")
    vlen_s = _vlen_sql("ts_s")
    vlen_n = _vlen_sql("ts_n")
    return with_ctes(
        MESSAGES_CTE,
        """corp AS (
  SELECT 'corpus' AS part, 'src' AS region, topic, partition_id,
         max(msg_offset) AS msg_offset,
         max_by(ts_us, msg_offset) * 1000 AS ts_ns
  FROM messages GROUP BY topic, partition_id
)""",
        f"""mat AS (
  SELECT 'matrix' AS part, 'local' AS region, 'matrix' AS topic,
         CAST(i AS INTEGER) AS partition_id, CAST(off AS BIGINT) AS msg_offset,
         CAST(CASE WHEN i = 0 THEN 0 ELSE {_X5_TS_NS} END AS BIGINT) AS ts_ns
  FROM (VALUES {values}) m(i, off)
)""",
        """u AS (
  SELECT *, ts_ns // 1000000000 AS ts_s, ts_ns % 1000000000 AS ts_n
  FROM (SELECT * FROM corp UNION ALL SELECT * FROM mat)
)""",
        select=f"""
SELECT part, topic, partition_id, msg_offset, ts_ns,
       CAST(2 + strlen(region) + 2 + strlen(topic)
            + (CASE WHEN partition_id > 0 THEN 1 + {vlen_p} ELSE 0 END)
            + (CASE WHEN msg_offset > 0 THEN 1 + {vlen_o} ELSE 0 END)
            + 2
            + (CASE WHEN ts_s > 0 THEN 1 + {vlen_s} ELSE 0 END)
            + (CASE WHEN ts_n > 0 THEN 1 + {vlen_n} ELSE 0 END)
            AS BIGINT) AS enc_len,
       CAST(1 AS INTEGER) AS ok
FROM u
""",
    )


@register(
    "r_x5_checkpoint_codec",
    _x5_oracle(),
    tags=("parity", "scalar"),
    doc="X5 protobuf wire codec driven end-to-end against a closed-form "
    "length oracle (reference pkg/core/messages.proto Checkpoint; "
    "encode/decode sites checkpoint_store.go:257-273): the REAL "
    "hand-rolled encoder (core/proto.py encode_checkpoint_udf, an "
    "Arrow-batched pandas UDF) serializes one checkpoint per corpus "
    "(topic, partition) — offset = stream head, timestamp = its µs "
    "event time — plus a 19-row boundary matrix hitting BOTH sides of "
    "every varint 7-bit-group transition (1..9 bytes), the zero-valued "
    "field-omission rule (partition 0 / offset 0 / ts 0 in row 0), and "
    "the always-emitted gogo non-nullable Timestamp submessage.  The "
    "oracle restates proto3 canonical encoding as arithmetic: 2 + "
    "strlen per nonempty string (tag + 1-byte length, fields <= 15 and "
    "strings < 128 bytes here — ASCII corpus, so strlen = byte length), "
    "1 + varint_len per nonzero scalar, 2 + submessage length for the "
    "timestamp.  ok additionally asserts the decode roundtrip recovered "
    "every field bit-exactly, so a drift in EITHER direction of the "
    "codec breaks the hash compare.  ts rides ts_us*1000 on both sides "
    "(sub-µs nanos are invisible to DuckDB's parquet reader)",
)
def q_x5_checkpoint_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.core import proto

    msgs = events_as_messages(spark, sf_dir)
    corp = (
        msgs.groupBy("topic", "partition_id")
        .agg(
            F.max("msg_offset").alias("msg_offset"),
            (F.max_by("ts_us", "msg_offset") * 1000).alias("ts_ns"),
        )
        .select(
            F.lit("corpus").alias("part"),
            F.lit("src").alias("region"),
            "topic",
            "partition_id",
            "msg_offset",
            "ts_ns",
        )
    )
    mat = local_frame(
        spark,
        [
            ("matrix", "local", "matrix", i, off, 0 if i == 0 else _X5_TS_NS)
            for i, off in enumerate(_X5_BOUNDARY_OFFSETS)
        ],
        "part string, region string, topic string, partition_id int, "
        "msg_offset long, ts_ns long",
    )
    u = corp.unionByName(mat)
    enc = u.withColumn(
        "enc",
        proto.encode_checkpoint_udf(
            "region", "topic", "partition_id", "msg_offset", "ts_ns"
        ),
    ).withColumn("dec", proto.decode_checkpoint_udf("enc"))
    ok = (
        (F.col("dec.region") == F.col("region"))
        & (F.col("dec.topic") == F.col("topic"))
        & (F.col("dec.partition_id") == F.col("partition_id"))
        & (F.col("dec.msg_offset") == F.col("msg_offset"))
        & (F.col("dec.ts_ns") == F.col("ts_ns"))
    )
    return enc.select(
        "part",
        "topic",
        "partition_id",
        "msg_offset",
        "ts_ns",
        F.octet_length("enc").cast("long").alias("enc_len"),
        ok.cast("int").alias("ok"),
    )


# ------------------------------------------ T13 duplicate-event tolerance

#: overlap-injection thresholds: hv % _T13_DUP_MOD == 0 → exact duplicate
#: emission; hv % _T13_VAR_MOD == 0 → a contained stale variant
_T13_DUP_MOD = 3
_T13_VAR_MOD = 5
_T13_MIN_SPAN = 8


@register(
    "r_t13_overlap_tolerance",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id,
         min(msg_offset) AS s, max(msg_offset) AS e,
         CAST(segment_seq AS VARCHAR) AS sq
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""h AS (
  SELECT *, {portable_hash60_sql(
      "topic || ':' || CAST(partition_id AS VARCHAR) || ':' || sq")} AS hv
  FROM seg
)""",
        f"""ev AS (
  SELECT topic, partition_id, s, e FROM h
  UNION ALL
  SELECT topic, partition_id, s, e FROM h WHERE hv % {_T13_DUP_MOD} = 0
  UNION ALL
  SELECT topic, partition_id,
         s + (e - s) // 4 AS s, s + (e - s) // 2 AS e
  FROM h WHERE hv % {_T13_VAR_MOD} = 0 AND e - s >= {_T13_MIN_SPAN}
)""",
        "uq AS (SELECT DISTINCT topic, partition_id, s, e FROM ev)",
        """scan AS (
  SELECT *, max(e) OVER (PARTITION BY topic, partition_id
                         ORDER BY s, e DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmax
  FROM uq
)""",
        """evc AS (
  SELECT topic, partition_id, count(*) AS n_events
  FROM ev GROUP BY topic, partition_id
)""",
        """agg AS (
  SELECT topic, partition_id,
         count(*) AS n_unique,
         CAST(sum(CASE WHEN pmax IS NOT NULL AND e <= pmax
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_absorbed,
         CAST(sum(CASE WHEN pmax IS NULL THEN e - s + 1
                       WHEN e > pmax THEN e - greatest(s, pmax + 1) + 1
                       ELSE 0 END) AS BIGINT) AS covered,
         max(e) - min(s) + 1 AS expected
  FROM scan GROUP BY topic, partition_id
)""",
        select="""
SELECT a.topic, a.partition_id, evc.n_events, a.n_unique, a.n_absorbed,
       a.covered, a.expected,
       CAST(CASE WHEN a.covered = a.expected THEN 1 ELSE 0 END AS INTEGER)
         AS ok
FROM agg a JOIN evc ON evc.topic = a.topic
                   AND evc.partition_id = a.partition_id
""",
    ),
    tags=("parity", "aggregation"),
    doc="T13 duplicate-event tolerance (reference ingress re-delivery "
    "handling pkg/ingress/worker.go — at-least-once SQS delivery means "
    "the same segment event arrives more than once, and compaction can "
    "re-announce a range already covered; mirrored at streaming/"
    "ingress_stream.py:218): deterministically re-emit every third "
    "segment event verbatim and inject a CONTAINED stale variant "
    "([s+span/4, s+span/2]) for every fifth, then prove the tolerance "
    "pipeline — exact distinct, then a running-max-end absorption scan "
    "per partition in (start asc, end desc) heap order (O1) — drops "
    "every duplicate and absorbs every contained range while the "
    "surviving coverage still equals the dense partition extent "
    "(covered == max-min+1, the ok flag the oracle asserts per "
    "partition).  The scan window partitions by (topic, partition) — "
    "never a global sort — and (s, e) pairs are unique after the "
    "distinct, so the frame order is deterministic on both engines",
)
def q_t13_overlap_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.min("msg_offset").alias("s"), F.max("msg_offset").alias("e"))
    )
    hv = portable_hash60(
        F.concat_ws(
            ":",
            F.col("topic"),
            F.col("partition_id").cast("string"),
            F.col("segment_seq").cast("string"),
        )
    )
    seg = seg.withColumn("hv", hv)
    base = seg.select("topic", "partition_id", "s", "e")
    dup = seg.filter(F.col("hv") % _T13_DUP_MOD == 0).select(
        "topic", "partition_id", "s", "e"
    )
    var = (
        seg.filter(
            (F.col("hv") % _T13_VAR_MOD == 0)
            & (F.col("e") - F.col("s") >= _T13_MIN_SPAN)
        )
        .select(
            "topic",
            "partition_id",
            F.expr("s + (e - s) div 4").alias("s"),
            F.expr("s + (e - s) div 2").alias("e"),
        )
    )
    ev = base.unionByName(dup).unionByName(var)
    evc = ev.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    uq = ev.distinct()
    w = (
        Window.partitionBy("topic", "partition_id")
        .orderBy(F.col("s").asc(), F.col("e").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scan = uq.withColumn("pmax", F.max("e").over(w))
    absorbed = F.when(
        F.col("pmax").isNotNull() & (F.col("e") <= F.col("pmax")), 1
    ).otherwise(0)
    contrib = (
        F.when(F.col("pmax").isNull(), F.col("e") - F.col("s") + 1)
        .when(
            F.col("e") > F.col("pmax"),
            F.col("e")
            - F.greatest(F.col("s"), F.col("pmax") + 1)
            + 1,
        )
        .otherwise(0)
    )
    agg = scan.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(absorbed).cast("long").alias("n_absorbed"),
        F.sum(contrib).cast("long").alias("covered"),
        (F.max("e") - F.min("s") + 1).alias("expected"),
    )
    return agg.join(evc, ["topic", "partition_id"]).select(
        "topic",
        "partition_id",
        "n_events",
        "n_unique",
        "n_absorbed",
        "covered",
        "expected",
        (F.col("covered") == F.col("expected")).cast("int").alias("ok"),
    )


# ----------------------------------------------- T6/T7 lost-range scan

#: lost-injection modulus: segments with hv % _T6_DROP_MOD == 0 vanish
_T6_DROP_MOD = 4


@register(
    "r_t6_lost_ranges",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq,
         min(msg_offset) AS s, max(msg_offset) AS e
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""h AS (
  SELECT *, {portable_hash60_sql(
      "topic || ':' || CAST(partition_id AS VARCHAR)"
      " || ':' || CAST(segment_seq AS VARCHAR)")} AS hv
  FROM seg
)""",
        f"""maxs AS (
  SELECT topic, partition_id, max(e) AS max_surv
  FROM h WHERE hv % {_T6_DROP_MOD} <> 0
  GROUP BY topic, partition_id
)""",
        f"""dropped AS (
  SELECT topic, partition_id, segment_seq, s, e,
         segment_seq - row_number() OVER (PARTITION BY topic, partition_id
                                          ORDER BY segment_seq) AS isl
  FROM h WHERE hv % {_T6_DROP_MOD} = 0
)""",
        """islands AS (
  SELECT topic, partition_id, isl,
         min(s) AS range_start, max(e) AS range_end
  FROM dropped GROUP BY topic, partition_id, isl
)""",
        select="""
SELECT i.topic, i.partition_id, i.range_start, i.range_end,
       i.range_end - i.range_start + 1 AS n_missing
FROM islands i
JOIN maxs m ON m.topic = i.topic AND m.partition_id = i.partition_id
WHERE i.range_start < m.max_surv
""",
    ),
    tags=("parity", "aggregation"),
    doc="T6/T7 lost-range detection (reference pkg/ingress/worker.go "
    "offset-continuity check before delivery; mirrored at streaming/"
    "ingress_stream.py:271-299): deterministically VANISH every "
    "hv%4==0 segment, then recover the exact missing offset ranges "
    "from the survivor stream alone — consecutive surviving segment "
    "extents per partition, a lag scan in start order, internal gaps "
    "[prev_end+1, start-1] plus the head gap [0, start-1] (offsets "
    "resume from 0, F1).  The oracle never scans for gaps: it "
    "CONSTRUCTS the expected ranges from the same drop arithmetic — "
    "islands of consecutive dropped segment_seqs merged via the "
    "seq - row_number() trick, clipped to below the last surviving "
    "offset (a trailing loss is invisible to a gap scan, exactly like "
    "the reference, which only declares lost ranges below an announced "
    "segment).  Gap detection runs at SEGMENT grain — the lag window "
    "rides segment-count rows per partition, never the message stream",
)
def q_t6_lost_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.min("msg_offset").alias("s"), F.max("msg_offset").alias("e"))
    )
    hv = portable_hash60(
        F.concat_ws(
            ":",
            F.col("topic"),
            F.col("partition_id").cast("string"),
            F.col("segment_seq").cast("string"),
        )
    )
    surv = seg.withColumn("hv", hv).filter(F.col("hv") % _T6_DROP_MOD != 0)
    w = Window.partitionBy("topic", "partition_id").orderBy("s")
    scan = surv.withColumn("prev_e", F.lag("e").over(w))
    head = scan.filter(F.col("prev_e").isNull() & (F.col("s") > 0)).select(
        "topic",
        "partition_id",
        F.lit(0).cast("long").alias("range_start"),
        (F.col("s") - 1).alias("range_end"),
    )
    internal = scan.filter(
        F.col("prev_e").isNotNull() & (F.col("s") - F.col("prev_e") > 1)
    ).select(
        "topic",
        "partition_id",
        (F.col("prev_e") + 1).alias("range_start"),
        (F.col("s") - 1).alias("range_end"),
    )
    return head.unionByName(internal).select(
        "topic",
        "partition_id",
        "range_start",
        "range_end",
        (F.col("range_end") - F.col("range_start") + 1).alias("n_missing"),
    )


# ------------------------------------------- partition volume profile

@register(
    "r_partition_volume_profile",
    with_ctes(
        MESSAGES_CTE,
        """p AS (
  SELECT topic, partition_id,
         CAST(count(*) AS BIGINT) AS n_msgs,
         CAST(sum(msg_size) AS BIGINT) AS n_bytes
  FROM messages GROUP BY topic, partition_id
)""",
        "t AS (SELECT CAST(sum(n_bytes) AS BIGINT) AS total_bytes, "
        "CAST(max(n_bytes) AS BIGINT) AS max_bytes, "
        "CAST(min(n_bytes) AS BIGINT) AS min_bytes FROM p)",
        select="""
SELECT topic, partition_id, n_msgs, n_bytes,
       CAST((1000000::HUGEINT * n_bytes) // total_bytes AS BIGINT)
         AS byte_share_ppm,
       CAST((1000000::HUGEINT * max_bytes) // nullif(min_bytes, 0) AS BIGINT)
         AS imbalance_ppm
FROM p, t
""",
    ),
    tags=("parity", "profiling"),
    doc="per-partition load profile of the message stream: message count, "
    "byte volume, byte share in exact ppm, and the global max/min byte "
    "imbalance ratio — the operational skew gauge behind the rendezvous "
    "rebalancing and segment-rollover sizing decisions "
    "(r_rebalance_rendezvous assigns the work; this measures how uneven "
    "it is; reference worker scaling pkg/ingress/controller.go).  One "
    "partition-catalog-grain aggregation + a broadcast 1-row bound; "
    "partition-count rows",
)
def q_partition_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    p = msgs.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum("msg_size").cast("long").alias("n_bytes"),
    )
    from kafka_replicator_spark.cacheutil import track_cached

    p = track_cached(p)  # catalog-grain frame feeds the bounds AND the rows
    t = p.agg(
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
        F.min("n_bytes").cast("long").alias("min_bytes"),
    )
    return p.join(F.broadcast(t)).select(
        "topic",
        "partition_id",
        "n_msgs",
        "n_bytes",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_bytes)"
            " div total_bytes AS BIGINT)"
        ).alias("byte_share_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * max_bytes)"
            " div nullif(min_bytes, 0) AS BIGINT)"
        ).alias("imbalance_ppm"),
    )


# ------------------------------------------- segment production cadence

@register(
    "r_segment_cadence",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq, max(ts_us) AS close_ts_us
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        """gaps AS (
  SELECT topic, partition_id,
         close_ts_us - lag(close_ts_us) OVER (
           PARTITION BY topic, partition_id ORDER BY segment_seq) AS gap_us
  FROM seg
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(gap_us) AS BIGINT) AS n_gaps,
       CAST(quantile_cont(gap_us, 0.5) * 2 AS BIGINT) AS median_gap_x2_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "profiling"),
    doc="segment production cadence per partition: inter-close gaps "
    "between consecutive segments (lag over segment_seq — a "
    "metadata-scale window keyed by partition), median doubled to an "
    "exact integer (0.5 is a power-of-two fraction: "
    "percentile == quantile_cont bit-exactly, interpolating to halves) "
    "and max.  The rollover-rate gauge the FirstSegmentDelay and "
    "late-segment timeouts are tuned against (reference "
    "pkg/ingress/config.go:32-40 defaults assume a ~30-min cadence).  "
    "Partition-count rows",
)
def q_segment_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.max("ts_us").alias("close_ts_us"))
    )
    w = Window.partitionBy("topic", "partition_id").orderBy("segment_seq")
    gaps = seg.select(
        "topic",
        "partition_id",
        (F.col("close_ts_us") - F.lag("close_ts_us").over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("topic", "partition_id").agg(
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.expr("CAST(percentile(gap_us, 0.5D) * 2 AS BIGINT)").alias(
            "median_gap_x2_us"
        ),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# ------------------------------------ X1 zero-pad ordering equivalence

@register(
    "r_path_sort_equivalence",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id,
         min(msg_offset) AS start_offset, max(msg_offset) AS end_offset
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        """named AS (
  SELECT topic, partition_id, start_offset,
         lpad(CAST(start_offset AS VARCHAR), 20, '0') || '-'
           || lpad(CAST(end_offset AS VARCHAR), 20, '0') AS fname
  FROM seg
)""",
        """ranked AS (
  SELECT topic, partition_id,
         row_number() OVER (PARTITION BY topic, partition_id
                            ORDER BY fname) AS r_lex,
         row_number() OVER (PARTITION BY topic, partition_id
                            ORDER BY start_offset) AS r_num,
         fname
  FROM named
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN r_lex <> r_num THEN 1 ELSE 0 END) AS BIGINT)
         AS rank_mismatches,
       min(fname) AS first_fname,
       max(fname) AS last_fname
FROM ranked GROUP BY topic, partition_id
""",
    ),
    tags=("parity", "codec"),
    doc="X1 zero-pad ordering equivalence: the REASON segment filenames "
    "are %020d-%020d is that an S3 LIST (lexicographic) must return "
    "segments in offset order — this audit ranks the real segment "
    "catalog's filenames lexicographically vs numerically per partition "
    "and asserts ZERO mismatches, plus the boundary filenames (reference "
    "pkg/stores/s3_segment_store.go listing order; core/codec.py:91 "
    "format).  Spark derives fname through the same lpad arithmetic the "
    "codec's format_string produces (tests/test_codec* pin the two forms "
    "byte-equal); metadata-grain windows keyed by partition.  "
    "Partition-count rows",
)
def q_path_sort_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    seg = (
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
        )
    )
    named = seg.select(
        "topic",
        "partition_id",
        "start_offset",
        F.concat(
            F.lpad(F.col("start_offset").cast("string"), 20, "0"),
            F.lit("-"),
            F.lpad(F.col("end_offset").cast("string"), 20, "0"),
        ).alias("fname"),
    )
    wp = Window.partitionBy("topic", "partition_id")
    ranked = named.select(
        "topic",
        "partition_id",
        F.row_number().over(wp.orderBy("fname")).alias("r_lex"),
        F.row_number().over(wp.orderBy("start_offset")).alias("r_num"),
        "fname",
    )
    return ranked.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("r_lex") != F.col("r_num"), 1).otherwise(0))
        .cast("long")
        .alias("rank_mismatches"),
        F.min("fname").alias("first_fname"),
        F.max("fname").alias("last_fname"),
    )


@register(
    "r_compaction_past_checkpoint",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        """qual AS (
  SELECT topic, partition_id FROM segments
  GROUP BY topic, partition_id HAVING count(*) >= 2
)""",
        select=f"""
SELECT s.topic, s.partition_id,
       CAST(count(*) AS BIGINT) AS n_planned,
       CAST(sum(s.size_bytes) AS BIGINT) AS bytes_planned,
       CAST(sum(CASE WHEN cp.cp_offset IS NOT NULL
                      AND s.end_offset <= cp.cp_offset THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delivered,
       CAST(sum(CASE WHEN cp.cp_offset IS NOT NULL
                      AND s.end_offset <= cp.cp_offset THEN s.size_bytes
                     ELSE 0 END) AS BIGINT) AS bytes_delivered,
       CAST((1000000 * CAST(sum(CASE WHEN cp.cp_offset IS NOT NULL
                                      AND s.end_offset <= cp.cp_offset
                                     THEN s.size_bytes ELSE 0 END) AS HUGEINT))
            // CAST(sum(s.size_bytes) AS HUGEINT) AS BIGINT) AS waste_ppm
FROM segments s
JOIN qual USING (topic, partition_id)
LEFT JOIN {CHECKPOINTS_VALUES}
  ON s.topic = cp.topic AND s.partition_id = cp.partition_id
GROUP BY s.topic, s.partition_id
ORDER BY s.topic, s.partition_id
""",
    ),
    tags=("parity", "compose"),
    doc="checkpoint x compaction interaction audit, composing the REAL "
    "plan_compaction (F3/F4 qualification path, uncapped take) with the "
    "F2 checkpoint positions: of the bytes a compaction plan would "
    "rewrite, how many are already fully delivered (end_offset <= the "
    "partition's checkpoint)?  The reference compacts regardless of "
    "consumer progress (compactor.go), so delivered-but-planned bytes "
    "are pure rewrite cost with no replay benefit — waste_ppm is the "
    "ops dial for checkpoint-aware compaction scheduling.  Metadata "
    "grain throughout (listing rows, broadcast checkpoint join)",
)
def q_compaction_past_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = _segments(spark, sf_dir)
    plan = plan_compaction(
        segs, min_level=0, max_level=0, min_count=2,
        max_count=1_000_000, min_bytes=1, max_bytes=1 << 60,
    )
    cps = local_frame(spark, CP_ROWS, "topic string, partition_id int, cp_offset long")
    j = plan.join(F.broadcast(cps), ["topic", "partition_id"], "left")
    delivered = F.col("cp_offset").isNotNull() & (
        F.col("end_offset") <= F.col("cp_offset")
    )
    return (
        j.groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_planned"),
            F.sum("size_bytes").cast("long").alias("bytes_planned"),
            F.sum(delivered.cast("long")).alias("n_delivered"),
            F.sum(F.when(delivered, F.col("size_bytes")).otherwise(0))
            .cast("long")
            .alias("bytes_delivered"),
        )
        .withColumn(
            # DECIMAL(38,0) lift: LONG would overflow past ~9 TB delivered;
            # Spark DECIMAL div == DuckDB HUGEINT // exactly (CLAUDE.md)
            "waste_ppm",
            F.expr(
                "CAST((CAST(bytes_delivered AS DECIMAL(38,0)) * 1000000)"
                " div bytes_planned AS BIGINT)"
            ),
        )
        .orderBy("topic", "partition_id")
    )


# ------------------------------------------- hourly volume profile

@register(
    "r_hourly_volume",
    with_ctes(
        MESSAGES_CTE,
        select="""
SELECT topic, partition_id,
       ts_us // 3600000000 AS hour_idx,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(sum(msg_size) AS BIGINT) AS n_bytes,
       CAST(count(DISTINCT msg_key) AS BIGINT) AS n_keys
FROM messages
GROUP BY topic, partition_id, hour_idx
""",
    ),
    tags=("parity", "aggregation"),
    doc="per-(partition, event-hour) message/byte/key volume — the time "
    "axis of r_partition_volume_profile (§2.11 rate meters, "
    "pkg/ingress/metrics.go): the capacity dashboard reads rates per "
    "clock bucket, not lifetime totals, and the distinct-key column is "
    "the per-hour compacted-state growth rate.  One partial-aggregable "
    "groupBy at (partition, hour) grain, integer hour bucketing on the "
    "canonical ts_us (Spark div == DuckDB // on BIGINT), no window",
)
def q_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    return msgs.groupBy(
        "topic",
        "partition_id",
        F.expr("ts_us div 3600000000").alias("hour_idx"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum("msg_size").cast("long").alias("n_bytes"),
        F.countDistinct("msg_key").cast("long").alias("n_keys"),
    )


# ------------------------------------------- iterated compaction convergence

#: fan-in per compaction round — 2 keeps at least one full window per
#: partition even at sf0.001 (2-3 L0 segments per partition there)
_CC_FANIN = 2
_CC_ROUNDS = 3


@register(
    "r_compaction_convergence",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        f"""windows AS (
  SELECT topic, partition_id, segment_seq // {_CC_FANIN} AS g,
         CAST(count(*) AS BIGINT) AS n_merged,
         min(start_offset) AS lo_offset,
         max(end_offset) AS hi_offset,
         CAST(sum(message_count) AS BIGINT) AS n_msgs
  FROM segments
  WHERE segment_seq // {_CC_FANIN} < {_CC_ROUNDS}
  GROUP BY topic, partition_id, segment_seq // {_CC_FANIN}
  HAVING count(*) = {_CC_FANIN}
)""",
        select="""
SELECT CAST(g + 1 AS INTEGER) AS round, topic, partition_id,
       n_merged, lo_offset, hi_offset, n_msgs
FROM windows
ORDER BY round, topic, partition_id
""",
    ),
    tags=("parity", "aggregation"),
    doc="the controller's plan->merge->relist loop driven through the REAL "
    f"plan_compaction for {_CC_ROUNDS} rounds at fan-in {_CC_FANIN}: each "
    "round plans the first full window of L0 segments per partition "
    "(O1 heap order + A8 bounded take with min_count = max_count = "
    f"{_CC_FANIN}), the planned inputs leave the listing, and the merged "
    "L1 output joins it (so the F3 floor derivation sees the growing "
    "higher level each round — compactor.go:176-242 iterated, the steady "
    "state the reference reaches via its cron loop).  The oracle restates "
    "the fixed point relationally: round k merges exactly the k-th "
    "fan-in window of segment_seqs, partial tail windows never qualify.  "
    "Everything is metadata-grain; per-round caching truncates lineage "
    "exactly like the graph queries' unrolled rounds",
)
def q_compaction_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    cur = track_cached(_segments(spark, sf_dir))
    outs: DataFrame | None = None
    for rnd in range(1, _CC_ROUNDS + 1):
        plan = track_cached(
            plan_compaction(
                cur,
                min_level=0,
                max_level=0,
                min_count=_CC_FANIN,
                max_count=_CC_FANIN,
                min_bytes=1,
                max_bytes=1 << 40,
            )
        )
        agg = plan.groupBy("topic", "partition_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.min("start_offset").alias("lo_offset"),
            F.max("end_offset").alias("hi_offset"),
            F.sum("message_count").cast("long").alias("n_msgs"),
        ).select(F.lit(rnd).cast("int").alias("round"), "*")
        outs = agg if outs is None else outs.unionByName(agg)
        merged = plan.groupBy("topic", "partition_id").agg(
            F.min("start_offset").alias("start_offset"),
            F.max("end_offset").alias("end_offset"),
            F.sum("message_count").cast("long").alias("message_count"),
            F.sum("size_bytes").cast("long").alias("size_bytes"),
        ).select(
            F.lit("local").alias("region"),
            "topic",
            "partition_id",
            F.lit(1).cast("int").alias("level"),
            F.lit(rnd - 1).cast("long").alias("segment_seq"),
            "start_offset",
            "end_offset",
            "message_count",
            "size_bytes",
        )
        cur = track_cached(
            cur.join(
                plan.select("topic", "partition_id", "level", "segment_seq"),
                ["topic", "partition_id", "level", "segment_seq"],
                "left_anti",
            ).unionByName(merged)
        )
    return outs.orderBy("round", "topic", "partition_id")


# ------------------------------------------- tombstone / deletion profile

@register(
    "r_tombstone_rate",
    with_ctes(
        MESSAGES_CTE,
        """lastk AS (
  SELECT topic, partition_id, msg_key,
         max_by(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END, event_id)
           AS last_is_tomb
  FROM messages GROUP BY topic, partition_id, msg_key
)""",
        """vol AS (
  SELECT topic, partition_id,
         CAST(count(*) AS BIGINT) AS n_msgs,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tombstones
  FROM messages GROUP BY topic, partition_id
)""",
        select="""
SELECT v.topic, v.partition_id, v.n_msgs, v.n_tombstones,
       CAST((1000000 * v.n_tombstones) // v.n_msgs AS BIGINT) AS tombstone_ppm,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(l.last_is_tomb) AS BIGINT) AS n_keys_deleted
FROM vol v JOIN lastk l USING (topic, partition_id)
GROUP BY v.topic, v.partition_id, v.n_msgs, v.n_tombstones
""",
    ),
    tags=("parity", "aggregation"),
    doc="F8 tombstone profile per partition: tombstone share of the stream "
    "plus the keys whose LAST event is a tombstone — exactly the keys a "
    "log-compacted retention pass DELETES from the state store "
    "(checkpoint_store.go:187-190 skips them on replay), so "
    "n_keys - n_keys_deleted is the live compacted-state size, refining "
    "r_key_cardinality_profile.  Last-writer flag via max_by on the "
    "unique event id (scalar-key max_by agrees across engines); two "
    "partial-aggregable groupBys, no window",
)
def q_tombstone_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    is_tomb = F.when(F.col("event_type") == "error", 1).otherwise(0)
    lastk = msgs.groupBy("topic", "partition_id", "msg_key").agg(
        F.max_by(is_tomb, F.col("event_id")).alias("last_is_tomb")
    )
    vol = msgs.groupBy("topic", "partition_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_msgs"),
        F.sum(is_tomb).cast("long").alias("n_tombstones"),
    )
    return (
        vol.join(lastk, ["topic", "partition_id"])
        .groupBy("topic", "partition_id", "n_msgs", "n_tombstones")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("last_is_tomb").cast("long").alias("n_keys_deleted"),
        )
        .select(
            "topic",
            "partition_id",
            "n_msgs",
            "n_tombstones",
            F.expr("CAST((1000000 * n_tombstones) div n_msgs AS BIGINT)").alias(
                "tombstone_ppm"
            ),
            "n_keys",
            "n_keys_deleted",
        )
    )


# ------------------------------------------------ storage volume forecast

@register(
    "r_volume_trend_ols",
    with_ctes(
        MESSAGES_CTE,
        """daily0 AS (
  SELECT ts_us // 86400000000 AS day, CAST(sum(msg_size) AS BIGINT) AS yb
  FROM messages GROUP BY ts_us // 86400000000
)""",
        "mn AS (SELECT CAST(min(day) AS BIGINT) AS d0 FROM daily0)",
        "daily AS (SELECT day - mn.d0 AS x, yb FROM daily0, mn)",
        """m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sd,
         CAST(sum(yb) AS BIGINT) AS sy,
         CAST(sum(x * yb) AS BIGINT) AS sdy,
         CAST(sum(x * x) AS BIGINT) AS sdd,
         CAST(sum(CAST(yb AS HUGEINT) * yb) AS DOUBLE) AS syy
  FROM daily
)""",
        select="""
SELECT n AS n_days,
       round((n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))
             / nullif(n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd, 0), 6)
         AS slope_bytes_per_day,
       round((CAST(sy AS DOUBLE) - (n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))
              / nullif(n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd, 0) * sd) / n, 6)
         AS intercept_bytes,
       round((n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))
             * (n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))
             / nullif((n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)
                      * (n * syy - CAST(sy AS DOUBLE) * sy), 0), 6)
         AS r_squared
FROM m
""",
    ),
    tags=("parity", "timeseries"),
    doc="OLS trend of daily ingested bytes — the storage/capacity forecast "
    "number behind S3 lifecycle planning (slope x retention window = the "
    "growth a bucket budget must absorb): the a_revenue_trend_ols recipe "
    "on the message stream (day index shifted to zero, byte sums held in "
    "BIGINT so every moment product is exact, one fixed double expression "
    "over the 1-row moment frame).  Day-grain collapse before any moment "
    "math",
)
def q_volume_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = events_as_messages(spark, sf_dir)
    daily0 = track_cached(
        msgs.groupBy(F.expr("ts_us div 86400000000").alias("day")).agg(
            F.sum("msg_size").cast("long").alias("yb")
        )
    )
    mn = daily0.agg(F.min("day").alias("d0"))
    daily = daily0.join(F.broadcast(mn)).select(
        (F.col("day") - F.col("d0")).alias("x"), "yb"
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sd"),
        F.sum("yb").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yb")).cast("long").alias("sdy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sdd"),
        F.expr("CAST(sum(CAST(yb AS DECIMAL(38,0)) * yb) AS DOUBLE)").alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.expr(
            "round((n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))"
            " / nullif(n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd, 0), 6)"
        ).alias("slope_bytes_per_day"),
        F.expr(
            "round((CAST(sy AS DOUBLE) - (n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))"
            " / nullif(n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd, 0) * sd) / n, 6)"
        ).alias("intercept_bytes"),
        F.expr(
            "round((n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))"
            " * (n * CAST(sdy AS DOUBLE) - sd * CAST(sy AS DOUBLE))"
            " / nullif((n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd)"
            " * (n * syy - CAST(sy AS DOUBLE) * sy), 0), 6)"
        ).alias("r_squared"),
    )


# --------------------------------------------------- key-frequency Zipf fit

_KEY_ZIPF_TOPK = 100


@register(
    "r_key_zipf_slope",
    with_ctes(
        MESSAGES_CTE,
        """kc AS (
  SELECT msg_key, count(*) AS freq FROM messages GROUP BY msg_key
)""",
        f"""top AS (
  SELECT msg_key, freq, row_number() OVER (ORDER BY freq DESC, msg_key ASC) AS rank
  FROM (SELECT msg_key, freq FROM kc ORDER BY freq DESC, msg_key ASC LIMIT {_KEY_ZIPF_TOPK})
)""",
        """terms AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM top
)""",
        """m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM terms
)""",
        select="""
SELECT CAST(n AS BIGINT) AS n_keys,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0), 6)
         AS zipf_slope,
       round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS zipf_intercept
FROM m
""",
    ),
    tags=("parity", "stats"),
    doc="Zipf fit of message-KEY frequencies (ln freq on ln rank over the "
    "top-100 keys, the textprof.zipf_slope recipe on the stream): the "
    "one-number hot-key model behind partition skew — a slope near 0 is "
    "uniform traffic, steep slopes say a few keys dominate and the "
    "rendezvous rebalancer (T12 audit) / salting paths matter.  "
    "Distributed TakeOrdered for the top-k; only 100 rows see a window; "
    "per-term regression moments rounded to 9 dp and folded as DECIMAL",
)
def q_key_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    kc = msgs.groupBy("msg_key").agg(F.count(F.lit(1)).alias("freq"))
    top = kc.orderBy(F.desc("freq"), F.asc("msg_key")).limit(_KEY_ZIPF_TOPK)
    w = Window.orderBy(F.desc("freq"), F.asc("msg_key"))
    ranked = top.select(
        F.row_number().over(w).alias("rank"), "freq"
    ).select(
        F.round(F.log(F.col("rank").cast("double")), 9).cast("decimal(18,9)").alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).cast("decimal(18,9)").alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    # degenerate top-k (<2 distinct x) → zero denominator; Spark and DuckDB
    # disagree on double /0 (NULL vs inf/NaN) — house nullif guard both sides
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return m.select(
        F.col("n").cast("long").alias("n_keys"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


# ------------------------------------- checkpoint-interval cost tradeoff

#: checkpoint-every-K intervals evaluated from one segment pass
_CKPT_SWEEP = (2, 5, 10)


def _ckpt_sweep_select() -> str:
    arms = []
    for k in _CKPT_SWEEP:
        arms.append(f"""
SELECT CAST({k} AS BIGINT) AS ckpt_every, topic, partition_id,
       CAST(max(end_offset)
            - coalesce(max(CASE WHEN segment_seq % {k} = {k - 1}
                                THEN end_offset END), -1) AS BIGINT)
         AS replay_msgs,
       CAST(count(CASE WHEN segment_seq % {k} = {k - 1} THEN 1 END) AS BIGINT)
         AS n_checkpoints
FROM seg GROUP BY topic, partition_id""")
    u = " UNION ALL ".join(arms)
    return f"""
SELECT ckpt_every,
       CAST(sum(replay_msgs) AS BIGINT) AS total_replay_msgs,
       CAST(max(replay_msgs) AS BIGINT) AS worst_partition_replay,
       CAST(sum(n_checkpoints) AS BIGINT) AS total_checkpoints
FROM ({u}) GROUP BY ckpt_every ORDER BY ckpt_every
"""


@register(
    "r_checkpoint_interval_sweep",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """seg AS (
  SELECT topic, partition_id, segment_seq, max(msg_offset) AS end_offset
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        select=_ckpt_sweep_select(),
    ),
    tags=("parity", "aggregation"),
    doc="T8 checkpoint-interval tradeoff: the r_checkpoint_staleness replay "
    f"cost evaluated at checkpoint-every-{_CKPT_SWEEP} segment intervals "
    "from ONE segment pass (the session-gap-sensitivity sweep pattern) — "
    "total and worst-partition recovery replay vs checkpoint write count, "
    "the two sides of the interval knob the reference fixes per produce "
    "batch (pkg/ingress/worker.go:118-122).  Conditional aggregates per "
    "literal arm over the same metadata frame; no window, no join",
)
def q_checkpoint_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = events_as_messages(spark, sf_dir)
    seg = track_cached(
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(F.max("msg_offset").alias("end_offset"))
    )
    out = None
    for k in _CKPT_SWEEP:
        arm = seg.groupBy("topic", "partition_id").agg(
            F.expr(
                f"CAST(max(end_offset) - coalesce(max(CASE WHEN segment_seq % {k} = {k - 1}"
                " THEN end_offset END), -1) AS BIGINT)"
            ).alias("replay_msgs"),
            F.expr(
                f"CAST(count(CASE WHEN segment_seq % {k} = {k - 1} THEN 1 END) AS BIGINT)"
            ).alias("n_checkpoints"),
        ).select(
            # BIGINT on both sides — bare int literals type int32 in per-k
            # UNION oracles (CLAUDE.md r07 cross-engine note)
            F.lit(k).cast("long").alias("ckpt_every"),
            "replay_msgs",
            "n_checkpoints",
        )
        out = arm if out is None else out.unionAll(arm)
    return (
        out.groupBy("ckpt_every")
        .agg(
            F.sum("replay_msgs").cast("long").alias("total_replay_msgs"),
            F.max("replay_msgs").cast("long").alias("worst_partition_replay"),
            F.sum("n_checkpoints").cast("long").alias("total_checkpoints"),
        )
        .orderBy("ckpt_every")
    )


# --------------------------------------- log retention deletion plan

#: age cutoff numerator/denominator: segments whose newest message is older
#: than lo + span/4 are age-expired (span-relative per the corpus rule —
#: the events span only ~19 days, so fixed day counts would be degenerate)
_RETENTION_AGE_NUM, _RETENTION_AGE_DEN = 1, 4


def _retention_select() -> str:
    return f"""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(del_size) AS BIGINT) AS n_deleted_size,
       CAST(sum(del_age) AS BIGINT) AS n_deleted_age,
       CAST(sum(greatest(del_size, del_age)) AS BIGINT) AS n_deleted,
       CAST(sum(CASE WHEN greatest(del_size, del_age) = 1
                     THEN size_bytes ELSE 0 END) AS BIGINT) AS bytes_deleted,
       CAST(sum(CASE WHEN greatest(del_size, del_age) = 0
                     THEN size_bytes ELSE 0 END) AS BIGINT) AS bytes_retained
FROM flagged GROUP BY topic, partition_id ORDER BY topic, partition_id
"""


@register(
    "r_retention_deletion_plan",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """segts AS (
  SELECT topic, partition_id, segment_seq,
         CAST(sum(msg_size) AS BIGINT) AS size_bytes,
         max(ts_us) AS end_ts_us
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        "ext AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM messages)",
        """tot AS (
  SELECT topic, partition_id, CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         max(segment_seq) AS last_seq
  FROM segts GROUP BY topic, partition_id
)""",
        f"""flagged AS (
  SELECT s.topic, s.partition_id, s.segment_seq, s.size_bytes,
         CASE WHEN s.segment_seq < t.last_seq
                   AND CAST(sum(s.size_bytes) OVER (
                         PARTITION BY s.topic, s.partition_id
                         ORDER BY s.segment_seq
                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       <= t.total_bytes - t.total_bytes // 2
              THEN 1 ELSE 0 END AS del_size,
         CASE WHEN s.segment_seq < t.last_seq
                   AND s.end_ts_us < (SELECT lo + ((hi - lo) * {_RETENTION_AGE_NUM})
                                                 // {_RETENTION_AGE_DEN} FROM ext)
              THEN 1 ELSE 0 END AS del_age
  FROM segts s JOIN tot t USING (topic, partition_id)
)""",
        select=_retention_select(),
    ),
    tags=("parity", "retention"),
    doc="log-retention deletion plan — the Kafka retention.bytes /"
    " retention.ms rule applied to the segment catalog: per partition,"
    " delete oldest segments while the cumulative size from the oldest"
    " fits inside total - retention_bytes (retention_bytes = half the"
    " partition's bytes, size-relative so every sf exercises both"
    " branches), plus the span-relative age gate (lo + span/4, the F5"
    " age-predicate family — reference pkg/compaction/compactor.go"
    " plan_compaction age gate); the ACTIVE (newest) segment is never"
    " deleted, exactly as Kafka's log manager skips the active segment."
    " Bounded window: the cumsum partitions by (topic, partition) on"
    " segment metadata, never message rows",
)
def q_retention_deletion_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = events_as_messages(spark, sf_dir)
    segts = track_cached(
        assign_segments_by_count(msgs, SEG_MAX_MESSAGES)
        .groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.sum("msg_size").cast("long").alias("size_bytes"),
            F.max("ts_us").alias("end_ts_us"),
        )
    )
    ext = msgs.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
    tot = segts.groupBy("topic", "partition_id").agg(
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        F.max("segment_seq").alias("last_seq"),
    )
    w = (
        Window.partitionBy("topic", "partition_id")
        .orderBy("segment_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = (
        segts.join(tot, ["topic", "partition_id"])
        .crossJoin(F.broadcast(ext))
        .withColumn("cum_oldest", F.sum("size_bytes").over(w).cast("long"))
        .select(
            "topic",
            "partition_id",
            "size_bytes",
            F.expr(
                "CASE WHEN segment_seq < last_seq"
                " AND cum_oldest <= total_bytes - total_bytes div 2"
                " THEN 1 ELSE 0 END"
            ).alias("del_size"),
            F.expr(
                "CASE WHEN segment_seq < last_seq"
                f" AND end_ts_us < lo + ((hi - lo) * {_RETENTION_AGE_NUM})"
                f" div {_RETENTION_AGE_DEN}"
                " THEN 1 ELSE 0 END"
            ).alias("del_age"),
        )
    )
    return (
        flagged.groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("del_size").cast("long").alias("n_deleted_size"),
            F.sum("del_age").cast("long").alias("n_deleted_age"),
            F.sum(F.greatest("del_size", "del_age")).cast("long").alias("n_deleted"),
            F.sum(
                F.when(F.greatest("del_size", "del_age") == 1, F.col("size_bytes")).otherwise(0)
            )
            .cast("long")
            .alias("bytes_deleted"),
            F.sum(
                F.when(F.greatest("del_size", "del_age") == 0, F.col("size_bytes")).otherwise(0)
            )
            .cast("long")
            .alias("bytes_retained"),
        )
        .orderBy("topic", "partition_id")
    )


# ----------------------------------------- SQS redrive / DLQ model

#: redrive policy literals: maxReceiveCount and the capped exponential
#: redelivery schedule (base chosen so the cap BITES inside the model —
#: both branches of min(base<<i, cap) are exercised)
_REDRIVE_MAX_RECEIVE = 3
_REDRIVE_BASE_MS, _REDRIVE_CAP_MS = 200, 300


def _redrive_delay_terms() -> list[int]:
    """Redelivery delays generated by the REAL core.retry.backoff_ms —
    the cron-grid trick: the Python schedule emits literals both engines
    fold identically, so the model can never drift from X7's code."""
    from kafka_replicator_spark.core.retry import backoff_ms

    return [
        backoff_ms(i, base_ms=_REDRIVE_BASE_MS, cap_ms=_REDRIVE_CAP_MS)
        for i in range(_REDRIVE_MAX_RECEIVE - 1)
    ]


def _redrive_delay_sql(receives: str) -> str:
    """Sum of per-redelivery delays for a message received ``receives``
    times: delay i applies between receive i and i+1."""
    terms = [
        f"CASE WHEN {receives} >= {i + 2} THEN {d} ELSE 0 END"
        for i, d in enumerate(_redrive_delay_terms())
    ]
    return " + ".join(terms)


def _redrive_select() -> str:
    mr = _REDRIVE_MAX_RECEIVE
    return f"""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_messages,
       CAST(sum(CASE WHEN n_failures < {mr} THEN 1 ELSE 0 END) AS BIGINT) AS n_delivered,
       CAST(sum(CASE WHEN n_failures >= {mr} THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
       CAST(sum(least(n_failures + 1, {mr})) AS BIGINT) AS total_receives,
       CAST((CAST(sum(least(n_failures + 1, {mr})) AS HUGEINT) * 1000000)
            // count(*) - 1000000 AS BIGINT) AS redelivery_ppm,
       CAST(sum(delay_ms) AS BIGINT) AS total_delay_ms,
       CAST(max(delay_ms) AS BIGINT) AS max_delay_ms
FROM model GROUP BY topic, partition_id ORDER BY topic, partition_id
"""


@register(
    "r_sqs_redrive_model",
    with_ctes(
        MESSAGES_CTE,
        f"""hashed AS (
  SELECT topic, partition_id,
         {portable_hash60_sql("msg_key || '@' || CAST(msg_offset AS VARCHAR)")} % 10 AS fate
  FROM messages
)""",
        f"""model AS (
  SELECT topic, partition_id,
         CASE WHEN fate = 0 THEN {_REDRIVE_MAX_RECEIVE} WHEN fate = 1 THEN 1 ELSE 0 END AS n_failures,
         {_redrive_delay_sql(f"least(CASE WHEN fate = 0 THEN {_REDRIVE_MAX_RECEIVE} WHEN fate = 1 THEN 1 ELSE 0 END + 1, {_REDRIVE_MAX_RECEIVE})")} AS delay_ms
  FROM hashed
)""",
        select=_redrive_select(),
    ),
    tags=("parity", "retry"),
    doc="SQS redrive/DLQ model (reference sqs_segment_event_source.go:"
    "215-270 — receive, process, delete-on-success, redeliver after"
    " visibility timeout, dead-letter past maxReceiveCount): message fate"
    " keyed on the portable hash (10% poison -> DLQ after"
    f" maxReceiveCount={_REDRIVE_MAX_RECEIVE}, 10% single transient"
    " failure), redelivery delays generated by the REAL"
    " core.retry.backoff_ms schedule (X7, utils/time.go:23-40) embedded"
    " as literals on BOTH engines — base/cap chosen so the cap branch is"
    " exercised; per-partition delivered/DLQ counts, exact redelivery"
    " overhead ppm (HUGEINT/DECIMAL-lifted), and total/max added latency."
    " One map pass + one bounded groupBy — no joins, no windows",
)
def q_sqs_redrive_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    mr = _REDRIVE_MAX_RECEIVE
    msgs = events_as_messages(spark, sf_dir)
    fate = msgs.select(
        "topic",
        "partition_id",
        (
            portable_hash60(
                F.concat(F.col("msg_key"), F.lit("@"), F.col("msg_offset").cast("string"))
            )
            % 10
        ).alias("fate"),
    )
    fail_expr = f"CASE WHEN fate = 0 THEN {mr} WHEN fate = 1 THEN 1 ELSE 0 END"
    model = fate.select(
        "topic",
        "partition_id",
        F.expr(fail_expr).alias("n_failures"),
        F.expr(_redrive_delay_sql(f"least({fail_expr} + 1, {mr})")).alias("delay_ms"),
    )
    return (
        model.groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_messages"),
            F.sum(F.when(F.col("n_failures") < mr, 1).otherwise(0))
            .cast("long")
            .alias("n_delivered"),
            F.sum(F.when(F.col("n_failures") >= mr, 1).otherwise(0))
            .cast("long")
            .alias("n_dlq"),
            F.sum(F.least(F.col("n_failures") + 1, F.lit(mr))).cast("long").alias("total_receives"),
            F.expr(
                "CAST((CAST(sum(least(n_failures + 1, %d)) AS DECIMAL(38,0)) * 1000000)"
                " div count(*) - 1000000 AS BIGINT)" % mr
            ).alias("redelivery_ppm"),
            F.sum("delay_ms").cast("long").alias("total_delay_ms"),
            F.max("delay_ms").cast("long").alias("max_delay_ms"),
        )
        .orderBy("topic", "partition_id")
    )


# ------------------------------------------- end-to-end latency budget

#: checkpoint-every-K segments for the latency model (the middle arm of
#: r_checkpoint_interval_sweep's 2/5/10 ladder)
_LATENCY_CKPT_EVERY = 5


@register(
    "r_e2e_latency_budget",
    with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        """segc AS (
  SELECT topic, partition_id, segment_seq, max(ts_us) AS close_ts
  FROM tagged GROUP BY topic, partition_id, segment_seq
)""",
        f"""segck AS (
  SELECT topic, partition_id, segment_seq, close_ts,
         min(CASE WHEN segment_seq % {_LATENCY_CKPT_EVERY} = {_LATENCY_CKPT_EVERY - 1}
                  THEN close_ts END) OVER (
           PARTITION BY topic, partition_id ORDER BY segment_seq DESC
           ROWS UNBOUNDED PRECEDING) AS ckpt_ts
  FROM segc
)""",
        """waits AS (
  SELECT t.topic, t.partition_id,
         s.close_ts - t.ts_us AS seg_wait,
         s.ckpt_ts - t.ts_us AS ckpt_wait
  FROM tagged t JOIN segck s USING (topic, partition_id, segment_seq)
)""",
        select="""
SELECT topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(count(CASE WHEN ckpt_wait IS NULL THEN 1 END) AS BIGINT) AS n_unckpt,
       CAST(quantile_cont(seg_wait, 0.25) * 4 AS BIGINT) AS seg_wait_p25_x4,
       CAST(quantile_cont(seg_wait, 0.50) * 4 AS BIGINT) AS seg_wait_p50_x4,
       CAST(quantile_cont(seg_wait, 0.75) * 4 AS BIGINT) AS seg_wait_p75_x4,
       CAST(quantile_cont(ckpt_wait, 0.50) FILTER (WHERE ckpt_wait IS NOT NULL) * 4
            AS BIGINT) AS ckpt_wait_p50_x4,
       CAST(max(seg_wait) AS BIGINT) AS seg_wait_max,
       CAST(max(ckpt_wait) AS BIGINT) AS ckpt_wait_max
FROM waits GROUP BY topic, partition_id ORDER BY topic, partition_id
""",
    ),
    tags=("parity", "latency"),
    doc="end-to-end replication latency budget — T1 rollover x T8 "
    "checkpointing composed into the per-message delay decomposition the "
    "ops dashboard actually needs: seg_wait = segment close_ts - message "
    "ts (time buffered before the segment ships), ckpt_wait = the NEXT "
    "checkpoint boundary's close_ts - message ts (time until the message "
    "is durably resumable; NULL past the last checkpointed segment = "
    "replay-exposed tail, counted as n_unckpt).  Quartiles at power-of-"
    "two fractions x4 are exact integers (Spark percentile == DuckDB "
    "quantile_cont at 0.25/0.5/0.75 on BIGINT — the r07 rule); the "
    "running-min window runs on SEGMENT METADATA, never message rows "
    "(reference: segment close pkg/egress/worker.go:174-180, checkpoint "
    "publish pkg/ingress/worker.go:118-122)",
)
def q_e2e_latency_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _LATENCY_CKPT_EVERY
    msgs = assign_segments_by_count(events_as_messages(spark, sf_dir), SEG_MAX_MESSAGES)
    segc = msgs.groupBy("topic", "partition_id", "segment_seq").agg(
        F.max("ts_us").alias("close_ts")
    )
    w = (
        Window.partitionBy("topic", "partition_id")
        .orderBy(F.desc("segment_seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    segck = segc.withColumn(
        "ckpt_ts",
        F.min(
            F.when(F.col("segment_seq") % k == k - 1, F.col("close_ts"))
        ).over(w),
    )
    waits = msgs.join(segck, ["topic", "partition_id", "segment_seq"]).select(
        "topic",
        "partition_id",
        (F.col("close_ts") - F.col("ts_us")).alias("seg_wait"),
        (F.col("ckpt_ts") - F.col("ts_us")).alias("ckpt_wait"),
    )
    return (
        waits.groupBy("topic", "partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_msgs"),
            F.count(F.when(F.col("ckpt_wait").isNull(), 1)).cast("long").alias("n_unckpt"),
            F.expr("CAST(percentile(seg_wait, 0.25) * 4 AS BIGINT)").alias("seg_wait_p25_x4"),
            F.expr("CAST(percentile(seg_wait, 0.50) * 4 AS BIGINT)").alias("seg_wait_p50_x4"),
            F.expr("CAST(percentile(seg_wait, 0.75) * 4 AS BIGINT)").alias("seg_wait_p75_x4"),
            F.expr(
                "CAST(percentile(ckpt_wait, 0.50)"
                " FILTER (WHERE ckpt_wait IS NOT NULL) * 4 AS BIGINT)"
            ).alias("ckpt_wait_p50_x4"),
            F.max("seg_wait").cast("long").alias("seg_wait_max"),
            F.max("ckpt_wait").cast("long").alias("ckpt_wait_max"),
        )
        .orderBy("topic", "partition_id")
    )


# ------------------------------------------- redrive policy sweep

#: maxReceiveCount arms of the redrive policy sweep
_REDRIVE_SWEEP_MRS = (2, 3, 5)

#: deterministic failure counts by hash fate (decile of the portable
#: hash): 10% poison (never succeeds), 10% one transient failure, 10% two,
#: 10% four — chosen so the DLQ rate strictly improves along the MR ladder
_REDRIVE_FATE_SQL = (
    "CASE fate WHEN 0 THEN 1000000 WHEN 1 THEN 1 WHEN 2 THEN 2"
    " WHEN 3 THEN 4 ELSE 0 END"
)


def _redrive_sweep_terms(mr: int) -> list[int]:
    from kafka_replicator_spark.core.retry import backoff_ms

    return [
        backoff_ms(i, base_ms=_REDRIVE_BASE_MS, cap_ms=_REDRIVE_CAP_MS)
        for i in range(mr - 1)
    ]


def _redrive_sweep_select() -> str:
    arms = []
    for mr in _REDRIVE_SWEEP_MRS:
        recv = f"least({_REDRIVE_FATE_SQL} + 1, {mr})"
        delay = " + ".join(
            f"CASE WHEN {recv} >= {i + 2} THEN {d} ELSE 0 END"
            for i, d in enumerate(_redrive_sweep_terms(mr))
        )
        arms.append(f"""
SELECT CAST({mr} AS BIGINT) AS max_receive,
       CAST(sum(CASE WHEN {_REDRIVE_FATE_SQL} >= {mr} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dlq,
       CAST((sum(CASE WHEN {_REDRIVE_FATE_SQL} >= {mr} THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS dlq_ppm,
       CAST(sum({recv}) AS BIGINT) AS total_receives,
       CAST(sum({delay}) AS BIGINT) AS total_delay_ms
FROM hashed""")
    return " UNION ALL ".join(arms) + "\nORDER BY max_receive"


@register(
    "r_redrive_policy_sweep",
    with_ctes(
        MESSAGES_CTE,
        f"""hashed AS MATERIALIZED (
  SELECT {portable_hash60_sql("msg_key || '@' || CAST(msg_offset AS VARCHAR)")} % 10 AS fate
  FROM messages
)""",
        select=_redrive_sweep_select(),
    ),
    tags=("parity", "retry"),
    doc="redrive-policy tuning sweep — r_sqs_redrive_model's DLQ/latency "
    f"tradeoff evaluated at maxReceiveCount={_REDRIVE_SWEEP_MRS} from ONE "
    "hash-fate pass (the literal-ladder sweep pattern): a deeper retry "
    "budget converts recoverable failures (1/2/4 transient attempts by "
    "fate decile) from dead letters into delivered messages at the cost "
    "of added redelivery delay — the dlq_ppm column strictly improves "
    "down the ladder while total_delay_ms grows; the per-arm delay terms "
    "come from the REAL core.retry.backoff_ms schedule (X7).  Reference: "
    "sqs_segment_event_source.go:215-270 redrive semantics",
)
def q_redrive_policy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = events_as_messages(spark, sf_dir)
    hashed = track_cached(
        msgs.select(
            (
                portable_hash60(
                    F.concat(F.col("msg_key"), F.lit("@"), F.col("msg_offset").cast("string"))
                )
                % 10
            ).alias("fate")
        )
    )
    out = None
    for mr in _REDRIVE_SWEEP_MRS:
        recv = f"least({_REDRIVE_FATE_SQL} + 1, {mr})"
        delay = " + ".join(
            f"CASE WHEN {recv} >= {i + 2} THEN {d} ELSE 0 END"
            for i, d in enumerate(_redrive_sweep_terms(mr))
        )
        arm = hashed.agg(
            F.lit(mr).cast("long").alias("max_receive"),
            F.expr(
                f"CAST(sum(CASE WHEN {_REDRIVE_FATE_SQL} >= {mr} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_dlq"),
            F.expr(
                f"CAST((sum(CASE WHEN {_REDRIVE_FATE_SQL} >= {mr} THEN 1 ELSE 0 END)"
                " * 1000000) div count(1) AS BIGINT)"
            ).alias("dlq_ppm"),
            F.expr(f"CAST(sum({recv}) AS BIGINT)").alias("total_receives"),
            F.expr(f"CAST(sum({delay}) AS BIGINT)").alias("total_delay_ms"),
        )
        out = arm if out is None else out.unionAll(arm)
    return out.orderBy("max_receive")


# ------------------------------------------- X3 via the VARIANT type


@register(
    "r_x3_variant_parse",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(*) AS BIGINT) AS n_missing_null
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("parity", "scalar", "variant"),
    doc="X3 JSON parse through Spark 4's VARIANT type (parse_json -> "
    "variant_get typed paths + try_variant_get on an absent path "
    "returning NULL for every row) — pins the binary-variant "
    "encode/decode path against the string-JSON oracle, so a variant "
    "shredding regression diverges from plain get_json_object "
    "(r_x3_json_extract, the string-path sibling).  Reference X3: "
    "pkg/stores/sqs_segment_event_source.go:297-371",
)
def q_x3_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(v, '$.absent', 'bigint')").alias("m"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
            # try_variant_get on a missing path is NULL for EVERY row —
            # count them to pin the miss semantics, not just the hits
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing_null"),
        )
        .orderBy("event_type")
    )


# ---------------------------------- M1 amplification Pareto sweep (r11)

#: MaxSegmentSize (in messages) ladder for the compaction-geometry sweep —
#: brackets the SEG_MAX_MESSAGES=100 default from both sides
_AP_SEG_LADDER = (50, 100, 200, 400)


def _ap_arm_sql(sm: int) -> list[str]:
    """The per-arm CTE chain for one MaxSegmentSize value: L0 rollup at
    ``sm`` msgs/segment, two fan-in-{_WA_FANIN} merge levels, and the arm's
    corpus totals (write bytes per level, live-file counts, ideal layout)."""
    cap = _WA_FANIN * _WA_FANIN * sm
    f = _WA_FANIN
    return [
        f"""l0_{sm} AS (
  SELECT topic, partition_id, msg_offset // {sm} AS seq,
         CAST(sum(msg_size) AS BIGINT) AS b0, CAST(count(*) AS BIGINT) AS nmsg
  FROM messages GROUP BY topic, partition_id, msg_offset // {sm}
)""",
        f"""l1f_{sm} AS (
  SELECT * FROM (
    SELECT topic, partition_id, seq // {f} AS g1,
           CAST(sum(b0) AS BIGINT) AS b1, CAST(count(*) AS BIGINT) AS n_in
    FROM l0_{sm} GROUP BY topic, partition_id, seq // {f}
  ) WHERE n_in = {f}
)""",
        f"""l2f_{sm} AS (
  SELECT * FROM (
    SELECT topic, partition_id, g1 // {f} AS g2,
           CAST(sum(b1) AS BIGINT) AS b2, CAST(count(*) AS BIGINT) AS n_in
    FROM l1f_{sm} GROUP BY topic, partition_id, g1 // {f}
  ) WHERE n_in = {f}
)""",
        f"""arm_{sm} AS (
  SELECT CAST({sm} AS BIGINT) AS seg_max, t.n_l0, t.raw_bytes,
         m1.l1_bytes, m1.n_l1f, m2.l2_bytes, m2.n_l2f, i.ideal
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_l0,
               CAST(sum(b0) AS BIGINT) AS raw_bytes FROM l0_{sm}) t,
       (SELECT CAST(coalesce(sum(b1), 0) AS BIGINT) AS l1_bytes,
               CAST(count(*) AS BIGINT) AS n_l1f FROM l1f_{sm}) m1,
       (SELECT CAST(coalesce(sum(b2), 0) AS BIGINT) AS l2_bytes,
               CAST(count(*) AS BIGINT) AS n_l2f FROM l2f_{sm}) m2,
       (SELECT CAST(sum((nmsgs + {cap} - 1) // {cap}) AS BIGINT) AS ideal
        FROM (SELECT topic, partition_id, sum(nmsg) AS nmsgs
              FROM l0_{sm} GROUP BY topic, partition_id)) i
)""",
    ]


def _ap_oracle() -> str:
    ctes = [MESSAGES_CTE]
    for sm in _AP_SEG_LADDER:
        ctes.extend(_ap_arm_sql(sm))
    arms = " UNION ALL ".join(f"SELECT * FROM arm_{sm}" for sm in _AP_SEG_LADDER)
    f = _WA_FANIN
    return with_ctes(
        *ctes,
        f"""arms AS ({arms})""",
        select=f"""
SELECT seg_max, n_l0,
       CAST((1000000 * (raw_bytes::HUGEINT + l1_bytes + l2_bytes))
            // raw_bytes AS BIGINT) AS write_amp_ppm,
       CAST(n_l0 - {f - 1} * n_l1f - {f - 1} * n_l2f AS BIGINT) AS files_per_scan,
       CAST((CAST(n_l0 - {f - 1} * n_l1f - {f - 1} * n_l2f AS HUGEINT) * 1000000)
            // ideal AS BIGINT) AS read_amp_ppm
FROM arms ORDER BY seg_max
""",
    )


@register(
    "r_amplification_pareto",
    _ap_oracle(),
    tags=("parity", "aggregation", "sweep"),
    doc="the MaxSegmentSize Pareto frontier of the two-level compaction "
    "geometry (VERDICT r10 #6: compose r_read_amplification + "
    f"r_write_amplification into one knob sweep): for each arm of the "
    f"literal ladder {_AP_SEG_LADDER} (msgs/segment; the reference's "
    "MaxSegmentSize knob — pkg/compaction/config.go), write_amp_ppm = "
    "1e6*(L0+L1+L2 rewritten bytes)//L0 bytes and read_amp_ppm = "
    "1e6*live files//ideal-packed layout.  Small segments maximize merge "
    "opportunities (write amp up, read amp down); large segments the "
    "reverse — the frontier a capacity plan picks from.  Arms derive "
    "segment_seq = msg_offset // seg_max directly (no shared window "
    "needed); per-arm totals are scalar aggregates; HUGEINT/DECIMAL "
    "lifts on both ppm numerators",
)
def q_amplification_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    msgs = track_cached(
        events_as_messages(spark, sf_dir).select(
            "topic", "partition_id", "msg_offset", "msg_size"
        )
    )
    f = _WA_FANIN
    out = None
    for sm in _AP_SEG_LADDER:
        cap = f * f * sm
        l0 = track_cached(
            msgs.groupBy(
                "topic", "partition_id", F.expr(f"msg_offset div {sm}").alias("seq")
            ).agg(
                F.sum("msg_size").cast("long").alias("b0"),
                F.count(F.lit(1)).cast("long").alias("nmsg"),
            )
        )
        l1f = (
            l0.groupBy("topic", "partition_id", F.expr(f"seq div {f}").alias("g1"))
            .agg(
                F.sum("b0").cast("long").alias("b1"),
                F.count(F.lit(1)).cast("long").alias("n_in"),
            )
            .where(F.col("n_in") == f)
        )
        l1f = track_cached(l1f)  # feeds the l2 grouping AND its own totals
        l2f = (
            l1f.groupBy("topic", "partition_id", F.expr(f"g1 div {f}").alias("g2"))
            .agg(
                F.sum("b1").cast("long").alias("b2"),
                F.count(F.lit(1)).cast("long").alias("n_in"),
            )
            .where(F.col("n_in") == f)
        )
        t = l0.agg(
            F.count(F.lit(1)).cast("long").alias("n_l0"),
            F.sum("b0").cast("long").alias("raw_bytes"),
        )
        m1 = l1f.agg(
            F.coalesce(F.sum("b1"), F.lit(0)).cast("long").alias("l1_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_l1f"),
        )
        m2 = l2f.agg(
            F.coalesce(F.sum("b2"), F.lit(0)).cast("long").alias("l2_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_l2f"),
        )
        ideal = (
            l0.groupBy("topic", "partition_id")
            .agg(F.sum("nmsg").alias("nmsgs"))
            .agg(
                F.sum(F.expr(f"(nmsgs + {cap} - 1) div {cap}"))
                .cast("long")
                .alias("ideal")
            )
        )
        arm = (
            t.crossJoin(F.broadcast(m1))
            .crossJoin(F.broadcast(m2))
            .crossJoin(F.broadcast(ideal))
            .select(
                F.lit(sm).cast("long").alias("seg_max"),
                "n_l0",
                F.expr(
                    "CAST((1000000 * (CAST(raw_bytes AS DECIMAL(38,0))"
                    " + l1_bytes + l2_bytes)) div raw_bytes AS BIGINT)"
                ).alias("write_amp_ppm"),
                F.expr(
                    f"CAST(n_l0 - {f - 1} * n_l1f - {f - 1} * n_l2f AS BIGINT)"
                ).alias("files_per_scan"),
                F.expr(
                    f"CAST((CAST(n_l0 - {f - 1} * n_l1f - {f - 1} * n_l2f"
                    f" AS DECIMAL(38,0)) * 1000000) div ideal AS BIGINT)"
                ).alias("read_amp_ppm"),
            )
        )
        out = arm if out is None else out.unionAll(arm)
    return out.orderBy("seg_max")


# ---------------------------------- T15 backpressure drain model (r11)

#: maxFilesPerTrigger ladder — brackets the pacing the streaming tests
#: exercise (tests/test_streaming.py uses 1)
_T15_CAPS = (1, 2, 5)


def _t15_oracle() -> str:
    arms = []
    for cap in _T15_CAPS:
        arms.append(f"""
SELECT CAST({cap} AS BIGINT) AS max_files,
       (SELECT CAST(count(*) AS BIGINT) FROM ranked) AS n_files,
       CAST(max(trig) + 1 AS BIGINT) AS n_triggers,
       CAST(max(bmsgs) AS BIGINT) AS max_batch_msgs,
       CAST(min(done) AS BIGINT) AS first_completion_trigger
FROM (
  SELECT trig, sum(message_count) AS bmsgs,
         min(min(pdone)) OVER () AS done
  FROM (
    SELECT (grank - 1) // {cap} AS trig, message_count,
           max((grank - 1) // {cap})
             OVER (PARTITION BY topic, partition_id) AS pdone
    FROM ranked
  ) GROUP BY trig
) t(trig, bmsgs, done)""")
    u = " UNION ALL ".join(arms)
    return with_ctes(
        MESSAGES_CTE,
        TAGGED_CTE,
        SEGMENTS_CTE,
        """ranked AS MATERIALIZED (
  SELECT topic, partition_id, segment_seq, message_count,
         row_number() OVER (
           ORDER BY topic, partition_id, start_offset) AS grank
  FROM segments
)""",
        select=f"""
SELECT * FROM ({u}) ORDER BY max_files
""",
    )


@register(
    "r_t15_drain_model",
    _t15_oracle(),
    tags=("parity", "streaming", "sweep"),
    doc="T15 backpressure drain model, upgrading maxFilesPerTrigger "
    "pacing from t-only to oracle-checked (VERDICT coverage table): "
    "segment files drain in the deterministic path-sort order "
    "(topic/partition/%020d start offset — the order "
    "r_path_sort_equivalence pins equals offset order), capped at "
    f"max_files per trigger over the literal ladder {_T15_CAPS}; per cap "
    "the model yields trigger count (= ceil(files/cap)), the largest "
    "per-trigger message batch (the memory high-water mark pacing "
    "exists to bound), and the FIRST per-partition completion trigger "
    "(the straggler spread is n_triggers-1 minus this: the last-finishing "
    "partition always lands at n_triggers-1 by construction, so the "
    "EARLIEST finisher is where the pacing-vs-staleness information "
    "lives).  The rank runs on the bounded "
    "segment-metadata grain, the r_o4 catalog precedent "
    "(streaming/ingress_stream.py maxFilesPerTrigger; "
    "tests/test_streaming.py)",
)
def q_t15_drain_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    segs = _segments(spark, sf_dir).select(
        "topic", "partition_id", "start_offset", "message_count"
    )
    w_rank = Window.orderBy("topic", "partition_id", "start_offset")
    ranked = track_cached(
        segs.select(
            "topic",
            "partition_id",
            "message_count",
            F.row_number().over(w_rank).alias("grank"),
        )
    )
    out = None
    for cap in _T15_CAPS:
        tagged = ranked.select(
            "topic",
            "partition_id",
            "message_count",
            F.expr(f"(grank - 1) div {cap}").alias("trig"),
        )
        pdone = tagged.groupBy("topic", "partition_id").agg(
            F.max("trig").alias("pd")
        )
        batches = tagged.groupBy("trig").agg(
            F.sum("message_count").alias("bmsgs")
        )
        arm = (
            batches.agg(
                F.lit(cap).cast("long").alias("max_files"),
                (F.max("trig") + 1).cast("long").alias("n_triggers"),
                F.max("bmsgs").cast("long").alias("max_batch_msgs"),
            )
            .crossJoin(
                F.broadcast(
                    ranked.agg(F.count(F.lit(1)).cast("long").alias("n_files"))
                )
            )
            .crossJoin(
                F.broadcast(
                    pdone.agg(
                        F.min("pd").cast("long").alias("first_completion_trigger")
                    )
                )
            )
            .select(
                "max_files",
                "n_files",
                "n_triggers",
                "max_batch_msgs",
                "first_completion_trigger",
            )
        )
        out = arm if out is None else out.unionAll(arm)
    return out.orderBy("max_files")


# ---------------------------------- T16 session-window bursts (r11)

#: session gap in microseconds (10 minutes)
_SESS_GAP_US = 600_000_000


@register(
    "r_session_bursts",
    with_ctes(
        MESSAGES_CTE,
        f"""flagged AS (
  SELECT topic, partition_id, msg_offset, ts_us, msg_size,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w >= {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM messages
  WINDOW w AS (PARTITION BY topic, partition_id ORDER BY ts_us, msg_offset)
)""",
        f"""isl AS (
  SELECT topic, partition_id, ts_us, msg_size,
         sum(brk) OVER (PARTITION BY topic, partition_id
                        ORDER BY ts_us, msg_offset
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)""",
        select=f"""
SELECT topic, partition_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + {_SESS_GAP_US} AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_messages,
       CAST(sum(msg_size) AS BIGINT) AS sum_bytes
FROM isl
GROUP BY topic, partition_id, island
ORDER BY topic, partition_id, session_start_us
""",
    ),
    tags=("parity", "streaming", "aggregation"),
    doc="traffic bursts per partition via Spark's NATIVE session_window "
    "(streaming/sessions.session_message_stats run batch-side — the same "
    "operator the streaming session tests drive) checked against the "
    "classic lag-gap islands oracle: a session extends while consecutive "
    "events arrive within 10 minutes, closes at last event + gap "
    "(window end = max ts + gap, Spark's session_window contract; merge "
    "iff diff < gap, so the islands break is >= gap).  Bridges the "
    "streaming surface to the oracle gate — the burst profile behind "
    "rollover tuning.  Outputs epoch-µs BIGINTs, never raw timestamps",
)
def q_session_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.streaming.sessions import session_message_stats

    msgs = events_as_messages(spark, sf_dir)
    return (
        session_message_stats(msgs, gap="10 minutes", ts_col="ts_ns")
        .select(
            "topic",
            "partition_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            F.col("n_messages").cast("long").alias("n_messages"),
            F.col("sum_bytes").cast("long").alias("sum_bytes"),
        )
        .orderBy("topic", "partition_id", "session_start_us")
    )


# ---------------------------------- X6 message-size histogram (r11)

#: log2 size-bucket thresholds (bytes) — literal ladder per the r07
#: df_histogram rule (runtime log2 is never trusted cross-engine)
_SIZE_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def _size_bucket_case(col: str) -> str:
    arms = " ".join(f"WHEN {col} <= {t} THEN {t}" for t in _SIZE_BUCKETS)
    return f"CASE {arms} ELSE {2 * _SIZE_BUCKETS[-1]} END"


@register(
    "r_msg_size_histogram",
    with_ctes(
        MESSAGES_CTE,
        select=f"""
SELECT partition_id,
       CAST({_size_bucket_case('msg_size')} AS BIGINT) AS size_bucket,
       CAST(count(*) AS BIGINT) AS n_messages,
       CAST(sum(msg_size) AS BIGINT) AS sum_bytes,
       CAST(max(msg_size) AS BIGINT) AS max_bytes
FROM messages
GROUP BY partition_id, size_bucket
ORDER BY partition_id, size_bucket
""",
    ),
    tags=("parity", "aggregation"),
    doc="per-partition message-size histogram on the X6 size expression "
    "(core/schema.message_size_col — the reference's producer-side size "
    "accounting, pkg/core/schema.go): log2 byte buckets via the literal "
    f"ladder {_SIZE_BUCKETS}, count/bytes/max per bucket — the payload "
    "profile behind MaxSegmentSize and batch.size tuning (a fat tail "
    "here means byte-based rollover fires long before the message-count "
    "one, r_amplification_pareto's other axis); one map-side "
    "aggregation, no joins",
)
def q_msg_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    return (
        msgs.groupBy(
            "partition_id",
            F.expr(f"CAST({_size_bucket_case('msg_size')} AS BIGINT)").alias(
                "size_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_messages"),
            F.sum("msg_size").cast("long").alias("sum_bytes"),
            F.max("msg_size").cast("long").alias("max_bytes"),
        )
        .orderBy("partition_id", "size_bucket")
    )


# ------------------------------- compaction steady-state level model (r12)

#: the two MaxSegmentSize points of the steady-state sweep (VERDICT r11
#: #7): small segments climb levels fast inside a fixed round budget,
#: large ones may never fill a window — the levels-reached-vs-input-rate
#: model a capacity plan reads next to r_amplification_pareto's byte axes
_SS_SEG_POINTS = (50, 200)
_SS_FANIN = 2
#: literal per-level round schedule: 4 rounds at level 0 (producing up to
#: 4 L1 segments per partition), 2 at level 1, 1 at level 2 — a fixed
#: 7-round budget both engines unroll identically
_SS_SCHEDULE = ((0, 4), (1, 2), (2, 1))


def _ss_arm_sql(sm: int) -> tuple[list[str], list[str]]:
    """Per-arm CTE chain + round rows, derived ENTIRELY from _SS_SCHEDULE
    so editing the schedule changes both engines together: level ℓ's
    segment table is the full fan-in windows of level ℓ-1's table bounded
    by that level's round count, and round r at level ℓ is the r-th
    window of level ℓ's table (the r_compaction_convergence closed form
    applied per level)."""
    f = _SS_FANIN
    ctes = [
        f"""ss_l0_{sm} AS MATERIALIZED (
  SELECT topic, partition_id, msg_offset // {sm} AS seq,
         min(msg_offset) AS lo, max(msg_offset) AS hi,
         CAST(count(*) AS BIGINT) AS nmsg
  FROM messages GROUP BY topic, partition_id, msg_offset // {sm}
)"""
    ]
    # level ℓ's table (ℓ >= 1) = full windows of level ℓ-1, bounded by the
    # number of rounds the schedule runs AT level ℓ-1 (each round produces
    # at most one level-ℓ segment per partition)
    for idx in range(1, len(_SS_SCHEDULE)):
        prev_level, prev_rounds = _SS_SCHEDULE[idx - 1]
        seq_col = "seq" if idx == 1 else f"g{idx - 1}"
        ctes.append(
            f"""ss_l{idx}_{sm} AS MATERIALIZED (
  SELECT * FROM (
    SELECT topic, partition_id, {seq_col} // {f} AS g{idx},
           min(lo) AS lo, max(hi) AS hi,
           CAST(sum(nmsg) AS BIGINT) AS nmsg, count(*) AS c
    FROM ss_l{idx - 1}_{sm} WHERE {seq_col} // {f} < {prev_rounds}
    GROUP BY topic, partition_id, {seq_col} // {f}
  ) WHERE c = {f}
)"""
        )
    rows = []
    rnd = 0
    for idx, (level, n_rounds) in enumerate(_SS_SCHEDULE):
        seq_col = "seq" if idx == 0 else f"g{idx}"
        for k in range(n_rounds):
            rnd += 1
            rows.append(
                f"""SELECT CAST({sm} AS BIGINT) AS seg_max, CAST({rnd} AS INTEGER) AS round,
       CAST({level} AS INTEGER) AS level, topic, partition_id,
       CAST(count(*) AS BIGINT) AS n_merged, min(lo) AS lo_offset,
       max(hi) AS hi_offset, CAST(sum(nmsg) AS BIGINT) AS n_msgs
FROM ss_l{idx}_{sm} WHERE {seq_col} // {f} = {k}
GROUP BY topic, partition_id HAVING count(*) = {f}"""
            )
    return ctes, rows


def _ss_oracle() -> str:
    ctes = [MESSAGES_CTE]
    rows: list[str] = []
    for sm in _SS_SEG_POINTS:
        c, r = _ss_arm_sql(sm)
        ctes.extend(c)
        rows.extend(r)
    return with_ctes(
        *ctes,
        select="SELECT * FROM ("
        + "\nUNION ALL ".join(rows)
        + ")\nORDER BY seg_max, round, topic, partition_id",
    )


def _ss_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_replicator_spark.cacheutil import track_cached

    return track_cached(
        events_as_messages(spark, sf_dir).select(
            "topic", "partition_id", "msg_offset", "msg_size"
        )
    )


def _ss_drive(msgs: DataFrame, sm: int) -> tuple[DataFrame | None, DataFrame]:
    """Drive the REAL plan_compaction through _SS_SCHEDULE at
    MaxSegmentSize ``sm`` over a pre-built (and typically cached)
    messages frame — THE one Spark-side executor of the steady-state
    loop, shared by r_compaction_steady_state (per-round rows) and
    r_steady_state_live_files (the final listing); callers build the
    frame ONCE across both arms via _ss_msgs.  Returns (per-round agg
    union, final listing)."""
    from kafka_replicator_spark.cacheutil import track_cached

    f = _SS_FANIN
    out: DataFrame | None = None
    cur = (
        msgs.groupBy(
            "topic",
            "partition_id",
            F.expr(f"msg_offset div {sm}").alias("segment_seq"),
        )
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
            F.count(F.lit(1)).cast("long").alias("message_count"),
            F.sum("msg_size").cast("long").alias("size_bytes"),
        )
        .select(
            F.lit("local").alias("region"),
            "topic",
            "partition_id",
            F.lit(0).cast("int").alias("level"),
            "segment_seq",
            "start_offset",
            "end_offset",
            "message_count",
            "size_bytes",
        )
        # 7 iterated rounds nest anti-joins/unions: caching alone does
        # NOT truncate the LOGICAL plan, and Catalyst's analysis cost
        # explodes with the nesting depth (measured: minutes at round
        # ~10).  localCheckpoint cuts the lineage to a leaf each round
        # — metadata-scale rows, so the eager materialization is cheap
        # (the p_dup_clusters precedent).
        .localCheckpoint()
    )
    rnd = 0
    for level, n_rounds in _SS_SCHEDULE:
        for per_level in range(n_rounds):
            rnd += 1
            plan = track_cached(
                plan_compaction(
                    cur,
                    min_level=level,
                    max_level=level,
                    min_count=f,
                    max_count=f,
                    min_bytes=1,
                    max_bytes=1 << 60,
                )
            )
            agg = plan.groupBy("topic", "partition_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_merged"),
                F.min("start_offset").alias("lo_offset"),
                F.max("end_offset").alias("hi_offset"),
                F.sum("message_count").cast("long").alias("n_msgs"),
            ).select(
                F.lit(sm).cast("long").alias("seg_max"),
                F.lit(rnd).cast("int").alias("round"),
                F.lit(level).cast("int").alias("level"),
                "*",
            )
            out = agg if out is None else out.unionByName(agg)
            merged = plan.groupBy("topic", "partition_id").agg(
                F.min("start_offset").alias("start_offset"),
                F.max("end_offset").alias("end_offset"),
                F.sum("message_count").cast("long").alias("message_count"),
                F.sum("size_bytes").cast("long").alias("size_bytes"),
            ).select(
                F.lit("local").alias("region"),
                "topic",
                "partition_id",
                F.lit(level + 1).cast("int").alias("level"),
                F.lit(per_level).cast("long").alias("segment_seq"),
                "start_offset",
                "end_offset",
                "message_count",
                "size_bytes",
            )
            cur = (
                cur.join(
                    plan.select(
                        "topic", "partition_id", "level", "segment_seq"
                    ),
                    ["topic", "partition_id", "level", "segment_seq"],
                    "left_anti",
                )
                .unionByName(merged)
                .localCheckpoint()  # truncate lineage (see above)
            )
    return out, cur


@register(
    "r_compaction_steady_state",
    _ss_oracle(),
    tags=("parity", "aggregation", "sweep"),
    doc="compaction steady-state level model (VERDICT r11 #7: compose "
    "r_compaction_convergence's iterated real planner with "
    "r_amplification_pareto's MaxSegmentSize sweep): the REAL "
    f"plan_compaction driven through the literal schedule {_SS_SCHEDULE} "
    f"(level, rounds) at fan-in {_SS_FANIN} for each MaxSegmentSize arm "
    f"{_SS_SEG_POINTS} — per round, the first full window per partition "
    "of that level merges into level+1 (O1 heap order + A8 bounded "
    "take), so the output records how HIGH each arm's data climbs inside "
    "a fixed round budget: small segments fill windows fast and reach "
    "level 2; large segments may never fill a level-1 window at the same "
    "input volume.  The oracle restates each round as the k-th fan-in "
    "window per level (the r_compaction_convergence closed form, applied "
    "per level to the previous level's full windows — exactly the pareto "
    "arms' rollup CTEs); absent/partial windows yield no row on either "
    "engine.  Metadata grain throughout; per-round caching truncates "
    "lineage (compactor.go:176-242 iterated)",
)
def q_compaction_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _ss_msgs(spark, sf_dir)
    out: DataFrame | None = None
    for sm in _SS_SEG_POINTS:
        rounds, _ = _ss_drive(msgs, sm)
        out = rounds if out is None else out.unionByName(rounds)
    return out.orderBy("seg_max", "round", "topic", "partition_id")


def _ss_live_arm_sql(sm: int) -> list[str]:
    """Per-arm live-listing rows at the END of the _SS_SCHEDULE budget,
    derived from the same ss_l* window CTEs: level ℓ's live segments are
    those not consumed by level ℓ+1's windows; the top level is whatever
    the last round produced.  Scalar aggregates, so every (arm, level)
    emits exactly one row (zeros included) on both engines."""
    f = _SS_FANIN
    rows = []
    n_levels = len(_SS_SCHEDULE)
    last_level, last_rounds = _SS_SCHEDULE[-1]
    for idx in range(n_levels):
        seq_col = "seq" if idx == 0 else f"g{idx}"
        if idx < n_levels - 1:
            consumed = (
                f"EXISTS (SELECT 1 FROM ss_l{idx + 1}_{sm} w WHERE "
                f"w.topic = l.topic AND w.partition_id = l.partition_id "
                f"AND w.g{idx + 1} = l.{seq_col} // {f})"
            )
        else:
            consumed = (
                f"EXISTS (SELECT 1 FROM (SELECT topic, partition_id, "
                f"{seq_col} // {f} AS h FROM ss_l{idx}_{sm} "
                f"WHERE {seq_col} // {f} < {last_rounds} "
                f"GROUP BY topic, partition_id, {seq_col} // {f} "
                f"HAVING count(*) = {f}) w WHERE "
                f"w.topic = l.topic AND w.partition_id = l.partition_id "
                f"AND w.h = l.{seq_col} // {f})"
            )
        rows.append(
            f"""SELECT CAST({sm} AS BIGINT) AS seg_max, CAST({idx} AS INTEGER) AS level,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(coalesce(sum(nmsg), 0) AS BIGINT) AS live_msgs
FROM ss_l{idx}_{sm} l WHERE NOT {consumed}"""
        )
    # the top level: segments the last round produced (one per full window)
    top_seq = "seq" if n_levels == 1 else f"g{n_levels - 1}"
    rows.append(
        f"""SELECT CAST({sm} AS BIGINT) AS seg_max,
       CAST({last_level + 1} AS INTEGER) AS level,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(coalesce(sum(nmsg), 0) AS BIGINT) AS live_msgs
FROM (SELECT topic, partition_id, CAST(sum(nmsg) AS BIGINT) AS nmsg
      FROM ss_l{n_levels - 1}_{sm}
      WHERE {top_seq} // {f} < {last_rounds}
      GROUP BY topic, partition_id, {top_seq} // {f}
      HAVING count(*) = {f})"""
    )
    return rows


def _ss_live_oracle() -> str:
    ctes = [MESSAGES_CTE]
    rows: list[str] = []
    for sm in _SS_SEG_POINTS:
        c, _ = _ss_arm_sql(sm)
        ctes.extend(c)
        rows.extend(_ss_live_arm_sql(sm))
    return with_ctes(
        *ctes,
        select="SELECT * FROM ("
        + "\nUNION ALL ".join(rows)
        + ")\nORDER BY seg_max, level",
    )


@register(
    "r_steady_state_live_files",
    _ss_live_oracle(),
    tags=("parity", "aggregation", "sweep"),
    doc="the live segment listing at the END of r_compaction_steady_state's "
    f"round budget, per (MaxSegmentSize arm {_SS_SEG_POINTS}, level): how "
    "many files a scan must open (files-per-scan = read amplification, "
    "the pareto sweep's other axis) and how many messages sit at each "
    "level once the budget runs out — small segments leave a tall, "
    "mostly-compacted pyramid, large ones a flat L0-heavy one.  The "
    "Spark side aggregates the REAL final listing from the shared "
    "_ss_drive loop; the oracle derives live = produced minus consumed "
    "from the same per-level window closed forms; every (arm, level) "
    "emits exactly one row (zeros included)",
)
def q_steady_state_live_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _ss_msgs(spark, sf_dir)
    out: DataFrame | None = None
    top = _SS_SCHEDULE[-1][0] + 1
    for sm in _SS_SEG_POINTS:
        _, final = _ss_drive(msgs, sm)
        for level in range(top + 1):
            arm = final.filter(F.col("level") == level).agg(
                F.lit(sm).cast("long").alias("seg_max"),
                F.lit(level).cast("int").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_live"),
                F.coalesce(F.sum("message_count"), F.lit(0))
                .cast("long")
                .alias("live_msgs"),
            )
            out = arm if out is None else out.unionByName(arm)
    return out.orderBy("seg_max", "level")
