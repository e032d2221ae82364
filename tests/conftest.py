import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mongo_arrow_spark.session import get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # correctness suite, not the bench: cap the test session at 8 cores.
    # sf0.001 actions are per-task-constant-bound, and local[32] only
    # widens each job's task wave (measured: test_graph 63.4 s at 32
    # cores vs 55.6 s at 8 — the same 8-vs-32 overhead floor the bench's
    # scaling block shows at sf0.1). The bench and the driver keep
    # local[$SPARK_GRAFT_CPUS]; this touches only pytest.
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8)
    # a 4 GB heap, not get_spark's 16 GB default: the sf0.001 suite's
    # live data is small, but G1 grows the heap toward its cap, and
    # test_curate alone took the JVM to 11-14 GB RSS, enough for the OOM
    # killer on a 15 GB, 4-vCPU host; at 4 GB it peaks at 5 GB in the
    # same wall time
    s = get_spark(
        "mongo_arrow_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def cache_entries(spark) -> int:
    """Frames the session's CacheManager holds: each persist/cache adds
    one entry, each unpersist removes it."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


# Subprocess gates: a test marked ``subprocess_gate(argv)`` asserts on the
# output of a separate process (an example script, a conf-bare session).
# The processes start once collection has settled which tests run — so
# ``--collect-only`` and runs that deselect them start no JVM — and
# overlap the rest of the suite; the ``gate_output`` fixture joins one.
_GATES: dict = {}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "subprocess_gate(argv): run argv in the background from the end of "
        "collection; the test reads its output through gate_output",
    )


def pytest_collection_finish(session):
    if session.config.option.collectonly:
        return
    for item in session.items:
        marker = item.get_closest_marker("subprocess_gate")
        if marker is not None:
            out = tempfile.TemporaryFile(mode="w+")
            proc = subprocess.Popen(
                marker.args[0], stdout=out, stderr=subprocess.STDOUT,
                text=True, cwd=REPO,
            )
            _GATES[item.nodeid] = (proc, out)


def pytest_sessionfinish(session):
    # gates whose test never ran (-x, interrupt): kill and reap them
    for proc, out in _GATES.values():
        proc.kill()
        proc.wait()
        out.close()


@pytest.fixture
def gate_output(request) -> str:
    """Wait (up to 10 minutes) for this test's subprocess gate and return
    its output; a nonzero exit fails the test with the output's tail."""
    proc, out = _GATES.pop(request.node.nodeid)
    try:
        rc = proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = -9
    out.seek(0)
    text = out.read()
    out.close()
    assert rc == 0, f"subprocess exited {rc}\noutput:\n{text[-6000:]}"
    return text
