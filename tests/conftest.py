import os

import pytest

from kafka_replicator_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark(
        app_name="kafka_replicator_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    yield s


@pytest.fixture(autouse=True)
def _no_leaked_streams():
    """Fail the offending test if it leaves a streaming query running.

    A stateful query with a pending processing-time timeout
    (``streaming_event_store(retention_ms=)``) never terminates under
    ``availableNow``, and a query left running taxes every later test in
    the suite.  This guard makes such a leak fail the test that caused
    it instead: after each test, any still-active query is stopped and
    the test is failed by name.
    """
    yield
    # Only inspect when a session already exists — never create one here
    # (that would slow down pure-Python tests for nothing).
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    except Exception:
        return
    if spark is None:
        return
    leaked = list(spark.streams.active)
    if leaked:
        names = [q.name or q.id for q in leaked]
        for q in leaked:
            try:
                q.stop()
            except Exception:
                pass
        pytest.fail(
            f"test leaked {len(leaked)} active streaming quer"
            f"{'y' if len(leaked) == 1 else 'ies'}: {names} — "
            "stop() every query (poll the sink, never rely on "
            "awaitTermination under availableNow with a pending timeout)"
        )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def messages(spark, sf_dir):
    from kafka_replicator_spark.sources.messages import events_as_messages

    return events_as_messages(spark, sf_dir).cache()
