"""The store, concurrency and maintenance suites rerun with every store
on ``MemoryCasBackend`` — the object-store-shaped commit log — in place
of the default ``FileCasBackend``. The imported tests build their stores
through the ``new_store`` fixture, which reads ``store_backend``."""

from __future__ import annotations

import pytest

from eventsourcing_spark.cas import MemoryCasBackend
from tests.test_concurrency import *  # noqa: F401,F403
from tests.test_event_store import *  # noqa: F401,F403
from tests.test_maintenance import *  # noqa: F401,F403

# these build their own MemoryCasBackend to hook it: rerunning adds nothing
del test_writers_on_distinct_buckets_commit_with_overlap  # noqa: F821
del test_append_that_loses_its_race_never_reaches_the_file_stream  # noqa: F821


@pytest.fixture()
def store_backend():
    return lambda base: MemoryCasBackend()
