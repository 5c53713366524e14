import pytest


@pytest.fixture(scope="session")
def spark():
    from theoremkb_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def caches():
    """A caller-owned ``cache_registry`` for the LSH operators, released
    after the test."""
    from theoremkb_spark.pipeline.runner import release_caches

    registry = []
    yield registry
    release_caches(registry)
