"""The session's default driver heap fits the host it runs on (no JVM)."""

from kgist_spark.session import driver_memory


def _mb(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_never_exceeds_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    assert 0 < _mb(driver_memory()) <= total_mb // 2


def test_default_is_half_ram_capped_at_16g(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"
    assert driver_memory(str(tmp_path / "absent")) == "16384m"


def test_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(tmp_path, 4 * 1024 * 1024)) == "3g"
