import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def inputs(tmp_path_factory):
    """One generated input directory (seed 5, with the curation oracle)."""
    from perfbench import gen

    return gen.ensure(5, tmp_path_factory.mktemp("inputs"), oracle=True)
