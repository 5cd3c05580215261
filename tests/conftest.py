from __future__ import annotations

import os
import sys
import time

import pytest

# this tree's own root, so a copy of the repo tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from advanced_etl_pipelines_spark.session import get_spark

    s = get_spark("pytest", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


def drain(query, timeout_s: int = 300):
    """Wait until a started streaming query has consumed all of its
    input, stop it, and re-raise its failure, if any.

    An availableNow query ends by itself once its input is processed.
    One with processing-time timers never does: the timers keep
    scheduling batches that read no input.  availableNow runs no such
    batch while input remains, so the first one marks the input as
    consumed.  A query still reading input after ``timeout_s`` fails the
    test instead of being checked on partial output."""
    deadline = time.monotonic() + timeout_s
    try:
        while query.isActive and not any(
            p.numInputRows == 0 for p in query.recentProgress
        ):
            if time.monotonic() > deadline:
                raise AssertionError(
                    f"stream {query.name!r} still reading input after"
                    f" {timeout_s}s"
                )
            time.sleep(0.1)
    finally:
        query.stop()
    query.awaitTermination()  # re-raises the query's failure
    return query


def run_available_now(stream_df, name):
    """Drain ``stream_df`` into the in-memory table ``name`` (update mode,
    availableNow trigger)."""
    return drain(
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


def rows_to_tuples(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())
