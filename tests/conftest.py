import pytest

from geotreehealth_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geotreehealth-tests", cores=8)
    yield s
    s.stop()


def registry(spark) -> set:
    """Ids of the session's persistent RDDs: caches and checkpoints."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def new_rdds(spark, before: set) -> set:
    """Persistent RDDs registered since ``before`` (compared by id: the
    context cleaner may drop older, unreferenced RDDs meanwhile, which would
    let a length compare hide a leaked one)."""
    return registry(spark) - before
