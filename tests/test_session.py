"""The session's default driver heap and core count fit the host it runs
on (no JVM), and a standalone entry point's driver JVM is launched with
them."""

import json
import os
import subprocess
import sys

import pytest

from kgist_spark.session import driver_memory, local_cpus
from tests.conftest import REPO_ROOT


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


def test_default_cpus_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert 0 < local_cpus() <= os.cpu_count()


def test_cpus_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


_PROBE = """
import json
from kgist_spark.session import entry_session
spark = entry_session("kgist-session-probe")
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


@pytest.mark.spark
def test_entry_session_jvm_gets_the_sized_heap_and_gc():
    """``entry_session`` outside spark-submit builds the engine's session
    before any JVM exists, so the driver heap and collector it sets reach
    the JVM's command line (a session built first and replaced afterwards
    keeps Spark's 1 GiB default and G1)."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    res = subprocess.run([sys.executable, "-c", _PROBE], cwd=REPO_ROOT, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-4000:]
    jvm_args = json.loads(res.stdout.strip().splitlines()[-1])
    assert f"-Xmx{driver_memory()}" in jvm_args
    assert "-XX:+UseParallelGC" in jvm_args
