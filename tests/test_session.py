"""The session's default driver heap and core count fit the host it runs
on (no JVM), a standalone entry point's driver JVM is launched with them,
AQE narrows persisted plans below the session's shuffle width,
concurrent actions run in the caller's job group, and no program code
writes session conf."""

import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from kgist_spark.session import driver_memory, local_cpus, run_concurrently
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


@pytest.mark.spark
def test_persisted_small_aggregate_is_coalesced(spark):
    """A persisted 7-row aggregate is not left at the session's shuffle
    width: AQE may coalesce a cached plan's last shuffle, so every stage that
    reads the persisted frame runs a few tasks, not one per session
    partition."""
    df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().persist()
    try:
        assert df.count() == 7
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert df.rdd.getNumPartitions() < width
    finally:
        df.unpersist()


@pytest.mark.spark
def test_run_concurrently_keeps_the_job_group_and_waits_for_all(spark):
    """Results come back in argument order; every job a thunk runs is in the
    caller's job group; a failure is re-raised only after the slower thunks
    have finished."""
    sc = spark.sparkContext
    finished = []

    def slow():
        time.sleep(0.5)
        finished.append(spark.range(5).count())

    def fail():
        raise ValueError("thunk failed")

    sc.setJobGroup("concurrent_probe", "run_concurrently")
    try:
        got = run_concurrently(lambda: spark.range(3).count(),
                               lambda: spark.range(4).count())
        with pytest.raises(ValueError, match="thunk failed"):
            run_concurrently(fail, slow)
        assert finished == [5]
    finally:
        sc.setJobGroup("concurrent_done", "done")
    assert got == [3, 4]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("concurrent_probe")) >= 3


@pytest.mark.spark
def test_run_concurrently_gives_each_thunk_its_own_local_properties(spark):
    """Concurrent thunks that each run a query work on separate copies of the
    caller's local properties, so none is left holding another's SQL
    execution id."""
    sc = spark.sparkContext
    jvm = sc._jvm

    def probe():
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        props = sc._jsc.sc().getLocalProperties()
        return (jvm.System.identityHashCode(props),
                props.getProperty("spark.sql.execution.id"))

    got = run_concurrently(probe, probe)
    caller = jvm.System.identityHashCode(sc._jsc.sc().getLocalProperties())
    assert [execution_id for _, execution_id in got] == [None, None]
    assert len({got[0][0], got[1][0], caller}) == 3


def test_run_concurrently_without_pinned_threads(monkeypatch):
    """With pinned-thread mode off, ``inheritable_thread_target`` returns the
    thunk unchanged, and the thunks still run."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]


def test_program_never_writes_session_conf():
    """No ``kgist_spark`` module calls ``conf.set(``: ``run_concurrently``
    runs Spark jobs side by side, and session conf is shared by every
    thread, so a session-wide write (a shuffle width set and restored
    around one stage, say) changes the plans of the jobs running beside
    it.  Per-query choices go in the plan itself (hints, ``repartition``),
    session defaults in ``get_spark``'s builder."""
    import re

    pattern = re.compile(r"\bconf\.set\(")
    hits = [
        f"{path.relative_to(REPO_ROOT)}:{n}"
        for path in sorted((REPO_ROOT / "kgist_spark").rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
