"""Segment path codec — S3/FS key layout ↔ segment identity.

Key layout (reference pkg/stores/s3_segment_store.go:36-37, README.md:199-215):

    {prefix}/{region}/{topic}/{partition}/{level}/{start:020d}-{end:020d}

Offsets are zero-padded to 20 digits so lexicographic order == numeric order
— that property is what lets an object-store LIST return segments in offset
order, and we preserve it.  Provided both as pure-Python functions (driver
metadata work, property-tested round-trip) and as column expressions
(distributed: derive segment identity from ``input_file_name()`` on a read,
reference parse at s3_segment_store.go:320-371).

Segment identity comes from the last five path components only; whatever
precedes them (``file:///`` scheme, root directories) is never parsed.  The
column parse cuts those five components off the end of the path, checks
them with one anchored pattern and splits them, so its cost is linear in
the path length and flat in the prefix length.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.column import Column

#: filename suffix for the parquet objects this engine writes (the reference
#: writes bare `start-end` keys; an extension keeps Spark/pyarrow happy).
SEGMENT_SUFFIX = ".parquet"

_PATH_RE = re.compile(
    r"(?P<prefix>.*?)/?"
    r"(?P<region>[^/]+)/(?P<topic>[^/]+)/(?P<partition>\d+)/(?P<level>\d+)/"
    r"(?P<start>\d{20})-(?P<end>\d{20})(?:\.parquet)?$"
)

#: the last five path components of a segment path, anchored at both ends.
#: Java's ``$`` also matches before one final line terminator.
_TAIL_COL_RE = r"^[^/]+/[^/]+/\d+/\d+/\d{20}-\d{20}(?:\.parquet)?$"
#: a line terminator before the region component (at least five ``/`` follow
#: it).  Such a path is not a segment path: the prefix is whatever comes
#: before the region, and a prefix never spans a line break.
_PREFIX_EOL_COL_RE = r"[\n\r\u0085\u2028\u2029](?:[^/]*/){5}"


@dataclass(frozen=True)
class SegmentId:
    """Identity tuple of a segment (reference messages.proto:28-35)."""

    region: str
    topic: str
    partition_id: int
    level: int
    start_offset: int
    end_offset: int


def format_segment_path(prefix: str, seg: SegmentId, suffix: str = SEGMENT_SUFFIX) -> str:
    """Format a segment path (reference s3_segment_store.go:244-258)."""
    return (
        f"{prefix.rstrip('/')}/{seg.region}/{seg.topic}/{seg.partition_id}/"
        f"{seg.level}/{seg.start_offset:020d}-{seg.end_offset:020d}{suffix}"
    )


def parse_segment_path(path: str) -> SegmentId:
    """Parse a segment path back to its identity
    (reference s3_segment_store.go:320-371).  Raises ValueError on mismatch.
    """
    m = _PATH_RE.match(path)
    if m is None:
        raise ValueError(f"not a segment path: {path!r}")
    return SegmentId(
        region=m.group("region"),
        topic=m.group("topic"),
        partition_id=int(m.group("partition")),
        level=int(m.group("level")),
        start_offset=int(m.group("start")),
        end_offset=int(m.group("end")),
    )


def segment_path_col(
    prefix: str | Column,
    region: str | Column = "region",
    topic: str | Column = "topic",
    partition_id: str | Column = "partition_id",
    level: str | Column = "level",
    start_offset: str | Column = "start_offset",
    end_offset: str | Column = "end_offset",
    suffix: str = SEGMENT_SUFFIX,
) -> Column:
    """Column-expression form of :func:`format_segment_path` — JVM-side
    ``format_string`` so path derivation runs inside codegen at scale.
    """
    as_col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    prefix_col = F.lit(prefix.rstrip("/")) if isinstance(prefix, str) else prefix
    return F.format_string(
        "%s/%s/%s/%d/%d/%020d-%020d" + suffix,
        prefix_col,
        as_col(region),
        as_col(topic),
        as_col(partition_id).cast("long"),
        as_col(level).cast("long"),
        as_col(start_offset),
        as_col(end_offset),
    )


def segment_path_fields(path: Column | str) -> list[Column]:
    """The six identity fields of a path column as strings — region, topic,
    partition, level, start and end offset — or six ``''`` if the path is
    not a segment path (NULL stays NULL).

    Parse a projected column, not ``input_file_name()`` itself: Spark then
    evaluates the shared tail and validity subexpressions once per row.
    """
    if isinstance(path, str):
        path = F.col(path)
    tail = F.substring_index(path, "/", -5)
    bad = ~tail.rlike(_TAIL_COL_RE) | path.rlike(_PREFIX_EOL_COL_RE)
    region, topic, partition_id, level, name = (
        F.split_part(tail, F.lit("/"), F.lit(i)) for i in range(1, 6)
    )
    start, end = F.substring(name, 1, 20), F.substring(name, 22, 20)
    fields = [region, topic, partition_id, level, start, end]
    return [F.when(bad, F.lit("")).otherwise(f) for f in fields]


def parse_segment_path_cols(path: Column | str) -> list[Column]:
    """Derive segment-identity columns from a path column — the distributed
    parse used when reading many segment files at once.  Returns columns
    aliased to SEGMENT_SCHEMA names; a non-segment path fails the numeric
    casts (``CAST_INVALID_INPUT`` under ANSI mode).
    """
    region, topic, partition_id, level, start, end = segment_path_fields(path)
    return [
        region.alias("region"),
        topic.alias("topic"),
        partition_id.cast("int").alias("partition_id"),
        level.cast("int").alias("level"),
        start.cast("long").alias("start_offset"),
        end.cast("long").alias("end_offset"),
    ]
