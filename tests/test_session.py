"""Session sizing: the core count comes from the master, the shuffle
partition count defaults to it, the codegen cache holds a whole curate
pass and the driver heap fits the host. Checked on a recording builder:
no JVM starts."""

import os
import types

import pytest

from mongo_arrow_spark import session

HOST = len(os.sched_getaffinity(0))


class _Builder:
    """Stands in for ``SparkSession.builder`` and records what
    ``get_spark`` sets."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )


@pytest.fixture
def built(monkeypatch):
    """``get_spark(**kw)`` → the conf it would build the session with."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def build(**kw):
        builder = _Builder()
        monkeypatch.setattr(
            session, "SparkSession", types.SimpleNamespace(builder=builder)
        )
        session.get_spark(**kw)
        return builder.conf

    return build


@pytest.mark.parametrize(
    "master, cores",
    [("local[3]", 3), ("local[*]", HOST), ("local", 1), ("local[2,4]", 2)],
)
def test_local_master_cores_come_from_master_string(monkeypatch, master, cores):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")  # a local master ignores it
    assert session.master_cores(master) == cores


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", None])
def test_other_master_cores_come_from_env_then_affinity(monkeypatch, master):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.master_cores(master) == 6
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.master_cores(master) == HOST


def test_shuffle_partitions_default_to_master_cores(built):
    assert built(master="local[3]")["spark.sql.shuffle.partitions"] == "3"
    assert built(master="local")["spark.sql.shuffle.partitions"] == "1"
    conf = built()
    assert conf["master"] == f"local[{HOST}]"
    assert conf["spark.sql.shuffle.partitions"] == str(HOST)


def test_explicit_shuffle_partitions_win(built):
    conf = built(master="local[3]", shuffle_partitions=5)
    assert conf["spark.sql.shuffle.partitions"] == "5"


def test_non_local_master_sizes_from_env(built, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    conf = built(master="spark://host:7077")
    assert conf["master"] == "spark://host:7077"
    assert conf["spark.sql.shuffle.partitions"] == "6"


def test_codegen_cache_holds_a_curate_pass(built):
    assert int(built()["spark.sql.codegen.cache.maxEntries"]) >= 119


def test_driver_heap_fits_the_host(built, monkeypatch):
    mem = built()["spark.driver.memory"]
    assert mem.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * 2**20 <= min(16 * 2**30, phys // 2)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert built()["spark.driver.memory"] == "3g"
