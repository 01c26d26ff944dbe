"""The default driver heap follows host memory (no Spark needed)."""

import pytest

from text2mc_dataprocessor_spark import session

GB = 2**30
PAGE = 4096


def _fake_host(monkeypatch, tmp_path, phys_bytes, cgroup_max=None):
    sysconf = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_bytes // PAGE}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    cg = tmp_path / "memory.max"
    if cgroup_max is not None:
        cg.write_text(f"{cgroup_max}\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(cg))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def _mb(spec):
    num, unit = int(spec[:-1]), spec[-1]
    return num * {"m": 1, "g": 1024}[unit]


@pytest.mark.parametrize("phys_gb", [2, 8, 16, 32, 47])
@pytest.mark.parametrize("cgroup_max", [None, "max", 6 * GB, 64 * GB])
def test_default_never_exceeds_half_of_host_memory(monkeypatch, tmp_path, phys_gb, cgroup_max):
    _fake_host(monkeypatch, tmp_path, phys_gb * GB, cgroup_max)
    backed = phys_gb * GB
    if isinstance(cgroup_max, int):
        backed = min(backed, cgroup_max)
    mb = _mb(session.driver_memory())
    assert 0 < mb <= backed // 2 // 2**20
    assert mb < 24 * 1024


@pytest.mark.parametrize("phys_gb", [48, 64, 512])
def test_default_is_24g_on_large_hosts(monkeypatch, tmp_path, phys_gb):
    _fake_host(monkeypatch, tmp_path, phys_gb * GB, "max")
    assert session.driver_memory() == "24g"


def test_cgroup_limit_caps_large_host(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 256 * GB, 16 * GB)
    assert session.driver_memory() == "8192m"


@pytest.mark.parametrize("phys_gb", [4, 16, 256])
def test_explicit_env_wins(monkeypatch, tmp_path, phys_gb):
    _fake_host(monkeypatch, tmp_path, phys_gb * GB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "64g")
    assert session.driver_memory() == "64g"


def test_empty_env_is_unset(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 16 * GB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "")
    assert session.driver_memory() == "8192m"
