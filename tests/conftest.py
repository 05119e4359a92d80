import pytest

from barefoot_spark import reference
from barefoot_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="barefoot-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def reference_file():
    """Path of a reference test resource; skips the test, naming the
    file, where the reference checkout is absent."""
    def get(name):
        try:
            return reference.reference_file(name)
        except reference.FixtureMissing as ex:
            pytest.skip(str(ex))
    return get
