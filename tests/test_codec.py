"""Property tests for the segment path codec (FIXTURES.md invariant 5)."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from kafka_replicator_spark.core.codec import (
    SegmentId,
    format_segment_path,
    parse_segment_path,
)

names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_-."),
    min_size=1,
    max_size=30,
).filter(lambda s: "/" not in s)


@given(
    region=names,
    topic=names,
    partition_id=st.integers(min_value=0, max_value=2**31 - 1),
    level=st.integers(min_value=0, max_value=100),
    start=st.integers(min_value=0, max_value=2**62),
    length=st.integers(min_value=0, max_value=10**9),
    prefix=st.sampled_from(["/data", "s3://bucket/prefix", "root", "/a/b/c"]),
)
@settings(max_examples=200, deadline=None)
def test_roundtrip(region, topic, partition_id, level, start, length, prefix):
    seg = SegmentId(region, topic, partition_id, level, start, start + length)
    assert parse_segment_path(format_segment_path(prefix, seg)) == seg


def test_lexicographic_order_matches_numeric():
    seg_a = SegmentId("r", "t", 0, 0, 9, 99)
    seg_b = SegmentId("r", "t", 0, 0, 10, 100)
    seg_c = SegmentId("r", "t", 0, 0, 100, 1000)
    paths = [format_segment_path("/x", s) for s in (seg_c, seg_a, seg_b)]
    assert sorted(paths) == [format_segment_path("/x", s) for s in (seg_a, seg_b, seg_c)]


def test_parse_rejects_garbage():
    import pytest

    for bad in ["/x/region/topic/0/0/123-456", "/x/a/b/c/d/e", "plain.parquet"]:
        with pytest.raises(ValueError):
            parse_segment_path(bad)


def test_column_codec_agrees_with_python_codec(spark):
    """segment_path_col / parse_segment_path_cols are independent
    implementations of format_segment_path / parse_segment_path — they must
    agree on every value (FIXTURES invariant 5, both forms)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from kafka_replicator_spark.core.codec import (
        parse_segment_path_cols,
        segment_path_col,
    )

    rows = [
        ("us-east-1", "events", 0, 0, 0, 99),
        ("eu", "topic.with.dots", 107, 3, 12345, 10**15),
        ("r", "t", 2**31 - 1, 100, 2**62, 2**62 + 10**9),
    ]
    df = spark.createDataFrame(
        rows,
        schema="region string, topic string, partition_id int, level int, "
        "start_offset long, end_offset long",
    ).withColumn("path", segment_path_col("/data"))
    got = df.collect()
    for r, seg_tuple in zip(got, rows):
        seg = SegmentId(*seg_tuple)
        assert r["path"] == format_segment_path("/data", seg)
        assert parse_segment_path(r["path"]) == seg
    # column-side parse of column-side format
    parsed = df.select(F.col("path"), *[c for c in parse_segment_path_cols("path")])
    for r, seg_tuple in zip(parsed.collect(), rows):
        assert (
            r["region"], r["topic"], r["partition_id"], r["level"],
            r["start_offset"], r["end_offset"],
        ) == seg_tuple


def test_lpad_filename_equals_codec_format(spark):
    """r_path_sort_equivalence derives segment filenames via lpad — pin
    that form byte-equal to the codec's %020d format_string output."""
    from pyspark.sql import functions as F

    from kafka_replicator_spark.core.codec import segment_path_col

    df = spark.createDataFrame(
        [(0, 99), (100, 10**18), (9 * 10**18, 9 * 10**18 + 5)],
        schema="start_offset long, end_offset long",
    ).select(
        F.element_at(
            F.split(
                segment_path_col(
                    "/d",
                    region=F.lit("r"),
                    topic=F.lit("t"),
                    partition_id=F.lit(0),
                    level=F.lit(0),
                ),
                "/",
            ),
            -1,
        ).alias("codec_name"),
        F.concat(
            F.lpad(F.col("start_offset").cast("string"), 20, "0"),
            F.lit("-"),
            F.lpad(F.col("end_offset").cast("string"), 20, "0"),
        ).alias("lpad_name"),
    )
    for r in df.collect():
        assert r["codec_name"].split(".")[0] == r["lpad_name"], r


# ------------------------------------------- column parse vs reference regex
#
# The column parse used to be six ``regexp_extract(path, RE, i)`` calls with
# the lazy-prefix pattern below, which rescans the whole path per group.
# It is kept here only as the reference the linear parse must agree with,
# value for value, on every input — malformed ones included.

REFERENCE_PATH_COL_RE = r"^.*?([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})(?:\.parquet)?$"

#: component characters: ASCII, non-ASCII letters and digits (Java's \d is
#: ASCII-only), URL-escape characters and every Java line terminator
_ALPHABET = "abz019.-_ +%é٣\n\r\u0085\u2028\u2029"
_component = st.text(alphabet=_ALPHABET, min_size=1, max_size=12).filter(lambda s: "/" not in s)
_digits = st.text(alphabet="0123456789", min_size=1, max_size=12)
_segment_like = st.builds(lambda p, l: f"r/t/{p}/{l}", _digits, _digits)


def _offset(n):
    return st.text(alphabet="0123456789", min_size=n, max_size=n)


_prefix = st.one_of(
    st.text(alphabet=_ALPHABET + "/", max_size=200),
    st.builds(
        lambda scheme, comps: (scheme + "".join(c + "/" for c in comps))[:200],
        st.sampled_from(["", "/", "file:/", "file:///", "s3://bucket/", "/tmp/x/"]),
        st.lists(st.one_of(_component, _digits, _segment_like), max_size=12),
    ),
)
_name = st.one_of(_component, _digits)


@st.composite
def _tail(draw, malformed):
    """Region/topic/partition/level/name; ``malformed`` breaks exactly one
    part of it."""
    parts = [draw(_name), draw(_name), draw(_digits), draw(_digits)]
    start, sep, end = draw(_offset(20)), "-", draw(_offset(20))
    suffix = draw(st.sampled_from(["", ".parquet"]))
    how = None
    if malformed:
        how = draw(st.sampled_from(["short", "empty", "digits", "offset", "sep", "suffix"]))
    if how == "empty":  # empty region or topic
        parts[draw(st.sampled_from([0, 1]))] = ""
    elif how == "digits":  # non-digit partition or level
        parts[draw(st.sampled_from([2, 3]))] = draw(_component)
    elif how == "offset":  # 19- or 21-digit start or end
        bad = draw(st.one_of(_offset(19), _offset(21)))
        start, end = draw(st.sampled_from([(bad, end), (start, bad)]))
    elif how == "sep":
        sep = draw(st.sampled_from(["_", "", "--"]))
    elif how == "suffix":
        suffix = draw(st.sampled_from(
            [".parq", ".PARQUET", ".parquet.tmp", ".parquet ", "/", ".parquet/",
             "\n", ".parquet\n", ".parquet\r\n", ".parquet\u2028", ".parquet\n\n"]
        ))
    tail = "/".join([*parts, f"{start}{sep}{end}{suffix}"])
    if how == "short":  # fewer than five components
        tail = tail.split("/", draw(st.integers(1, 4)))[-1]
    return tail


_path = st.builds(lambda p, t: p + t, _prefix, st.one_of(_tail(False), _tail(True)))

_SEG_NAME = "00000000000000000001-00000000000000000002.parquet"


def _collect_or_condition(df):
    """Rows of ``df``, or the error condition its action raises."""
    from pyspark.errors import PySparkException

    try:
        return [tuple(r) for r in df.collect()]
    except PySparkException as e:
        return ("error", e.getCondition())


# Spark jobs dominate the cost: few examples, many paths per example
@given(paths=st.lists(st.one_of(_path, st.none()), min_size=1, max_size=40))
@settings(max_examples=20, deadline=None)
@example(paths=[f"/x/r/t/0/0/{_SEG_NAME}", f"file:///tmp/a/r/t/0/0/{_SEG_NAME}\n"])
@example(paths=[f"/x\n/r/t/0/0/{_SEG_NAME}", f"/x/r\nq/t\r/0/0/{_SEG_NAME}"])
@example(paths=[f"\u0085/r/t/0/0/{_SEG_NAME}", f"r/t/0/0/{_SEG_NAME}", f"t/0/0/{_SEG_NAME}"])
@example(paths=[f"/r/t/0/0/{_SEG_NAME}/", f"/r/t/0/0/{_SEG_NAME}\r\n", f"//t/0/0/{_SEG_NAME}"])
def test_column_parse_matches_reference_regex(spark, paths):
    """segment_path_fields / parse_segment_path_cols return what the six
    reference ``regexp_extract`` calls returned, or fail with the same
    error condition (ANSI casts of a non-segment path's ``''``)."""
    from pyspark.sql import functions as F

    from kafka_replicator_spark.core.codec import (
        parse_segment_path_cols,
        segment_path_fields,
    )

    df = spark.createDataFrame([(p,) for p in paths], "path string")
    ref = [F.regexp_extract("path", REFERENCE_PATH_COL_RE, i) for i in range(1, 7)]
    for r in df.select(*segment_path_fields("path"), *ref).collect():
        assert tuple(r[:6]) == tuple(r[6:]), paths

    casts = ["string", "string", "int", "int", "long", "long"]
    ref_cols = [c.cast(t) for c, t in zip(ref, casts)]
    assert _collect_or_condition(df.select(*parse_segment_path_cols("path"))) == (
        _collect_or_condition(df.select(*ref_cols))
    ), paths


@given(paths=st.lists(_path, min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
@example(paths=[f"p/r/t/0/0/{_SEG_NAME}", f"p%0A/r/t/0/0/{_SEG_NAME}", "p/r/t/0/0/%zz"])
def test_notification_key_parse_matches_reference_regex(spark, paths):
    """S3-notification keys: the same identity and ``invalid_segment_key``
    verdicts as the reference regex under ``try_cast`` (no ANSI failure)."""
    import json
    from urllib.parse import quote

    from pyspark.sql import functions as F

    from kafka_replicator_spark.sources.notifications import parse_s3_notification_events

    # raw keys and their URL-encoded form; both go through try_url_decode
    keys = [k for p in paths for k in (p, quote(p))]
    bodies = spark.createDataFrame(
        [
            (json.dumps({"Records": [{
                "eventSource": "aws:s3",
                "eventName": "ObjectCreated:Put",
                "eventTime": "2024-03-19T17:44:04.772Z",
                "s3": {"object": {"key": k, "size": 1}},
            }]}), k)
            for k in keys
        ],
        "body string, key string",
    )
    got = parse_s3_notification_events(bodies, keep_invalid=True).select(
        "region", "topic", "partition_id", "level", "start_offset", "end_offset",
        "invalid_reason",
    )
    key_dec = F.try_url_decode("key")
    ref = [F.regexp_extract(key_dec, REFERENCE_PATH_COL_RE, i) for i in range(1, 7)]
    want = bodies.select(
        ref[0], ref[1],
        ref[2].try_cast("int"), ref[3].try_cast("int"),
        ref[4].try_cast("long"), ref[5].try_cast("long"),
        F.when(F.coalesce(ref[0], F.lit("")) == "", F.lit("invalid_segment_key")),
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()], keys
