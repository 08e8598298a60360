import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from harness import make_spark
    from run import stop_spark

    s = make_spark(str(tmp_path_factory.mktemp("spark-work")))
    yield s
    stop_spark(s)
