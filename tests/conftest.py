from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")

TESTDATA = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from eventsourcing_spark.session import get_spark

    s = get_spark("es-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture()
def store_backend():
    """The commit-log backend for stores built with ``new_store``, from the
    store's base directory: None = the default ``FileCasBackend`` under
    ``<base>/_log``. ``tests/test_store_memory_backend.py`` overrides it
    to rerun the store suites over ``MemoryCasBackend``."""
    return lambda base: None


@pytest.fixture()
def new_store(spark, store_backend):
    """``new_store(base, **kwargs)``: an EventStore over ``store_backend``."""
    from eventsourcing_spark.store import EventStore

    def make(base, **kwargs):
        return EventStore(spark, str(base), backend=store_backend(str(base)), **kwargs)

    return make
