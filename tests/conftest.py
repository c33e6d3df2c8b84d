from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("OLR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from openlogreplicator_spark.session import get_spark

    spark = get_spark(
        app_name="olr-tests",
        master=os.environ.get("OLR_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def drain(q, timeout: int = 180) -> None:
    """Await an AvailableNow streaming query and FAIL if it does not
    terminate, stopping it either way. A query that out-lives its drain
    (e.g. a pending processing-time timer forcing endless zero-input
    batches) would otherwise leak CPU-churning Python workers for the
    rest of the test session."""
    try:
        terminated = q.awaitTermination(timeout)
        assert terminated, (
            f"streaming query {q.name!r} still active after {timeout}s "
            "drain — AvailableNow did not terminate"
        )
    finally:
        if q.isActive:
            q.stop()


def read_redo_json_stream(spark, path: str, max_files_per_trigger=None):
    """Streaming source over JSON-lines redo-record files in listing
    order, one file per trigger when ``max_files_per_trigger=1``."""
    from openlogreplicator_spark.event_model import REDO_RECORD_SCHEMA

    reader = spark.readStream.schema(REDO_RECORD_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)
