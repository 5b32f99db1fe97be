"""Session defaults sized to the host."""

import pytest

from loc2vec_spark import session
from loc2vec_spark.session import MAX_DRIVER_MEM_MB, default_driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 f"MemFree:        {total_kb // 2} kB\n")
    return str(p)


def test_driver_memory_is_half_of_ram_on_small_hosts(tmp_path):
    # a 15.7 GiB host: a flat 16g heap would exceed physical memory
    assert default_driver_memory(_meminfo(tmp_path, 16_462_168)) == "8038m"


def test_driver_memory_capped_at_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 128 * 1024 ** 2)) \
        == f"{MAX_DRIVER_MEM_MB}m" == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16384m"
    bad = tmp_path / "bad"
    bad.write_text("MemTotal: lots\n")
    assert default_driver_memory(str(bad)) == "16384m"


class _FakeBuilder:
    """Records the conf ``get_spark`` sets, so its master parsing is
    tested without starting a second JVM session."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, level):
                pass

        class _Session:
            sparkContext = _Ctx()
        return _Session()


@pytest.mark.parametrize("master, partitions", [
    ("local[4]", "8"), ("local[12]", "12"), ("local[4,3]", "8"),
    ("local[12,3]", "12")])
def test_shuffle_partitions_from_local_master(monkeypatch, master,
                                              partitions):
    """``local[N,F]`` (local mode with F task attempts) takes its core
    count before the comma instead of failing on ``int("N,F")``."""
    fake = _FakeBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        type("SparkSession", (), {"builder": fake}))
    session.get_spark(master=master)
    assert fake.conf["master"] == master
    assert fake.conf["spark.sql.shuffle.partitions"] == partitions
