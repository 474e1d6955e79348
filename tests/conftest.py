import pytest

from pignlproc_spark import synth
from pignlproc_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="pignlproc-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_dir():
    return synth.generate(0.001)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
