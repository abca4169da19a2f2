import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from open_data_linter_spark.session import get_spark

    s = get_spark("odl-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _session_conf_unchanged(request):
    """Fail any Spark test that leaves the session conf changed: no
    engine call (and no test) may set session state that outlives it.
    Spark-free tests do not request ``spark`` and start no JVM here."""
    if "spark" not in request.fixturenames:
        yield
        return
    conf = request.getfixturevalue("spark").conf
    before = conf.getAll
    yield
    after = conf.getAll
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    if changed:
        pytest.fail(f"session conf changed (key: (before, after)): {changed}")
