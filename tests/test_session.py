"""Driver heap sizing (engine/session.py): the default follows the
machine's memory, $SPARK_DRIVER_MEM overrides it, and the result-size
cap stays below the heap."""

from __future__ import annotations

import pytest

from lakehouse_automation_spark.engine.session import (
    MAX_DRIVER_MB,
    driver_memory,
    memory_mb,
)


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 "MemFree:         1024 kB\n")
    return str(p)


def test_default_heap_is_a_share_of_physical_memory(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    # a 15 GB host gets 40%, not the 48g that oversubscribed it
    assert driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "6144m"


def test_default_heap_is_capped(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == \
        f"{MAX_DRIVER_MB}m"
    assert driver_memory(str(tmp_path / "missing")) == f"{MAX_DRIVER_MB}m"


def test_env_overrides_the_default(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "16g")
    assert driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "16g"


@pytest.mark.parametrize("spec,mb", [
    ("16g", 16384), ("6144m", 6144), ("4096", 4096),
    ("1t", 1024 * 1024), ("2048k", 2),
])
def test_memory_mb(spec, mb):
    assert memory_mb(spec) == mb


def test_result_size_cap_is_below_the_heap(spark):
    conf = spark.sparkContext.getConf()
    assert memory_mb(conf.get("spark.driver.maxResultSize")) < \
        memory_mb(conf.get("spark.driver.memory"))
