import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))  # the benchmark's modules
sys.path.insert(0, str(HERE.parent.parent))  # the package


@pytest.fixture(scope="session")
def spark():
    from db_cdc_poc_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2)
    yield s
    s.stop()
