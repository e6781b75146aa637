import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small local session whose Python workers can import the repo."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("LAKEVIEW_SCRATCH_DIR", str(tmp_path_factory.mktemp("scratch")))
    from lakeview_spark import get_spark

    session = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()
