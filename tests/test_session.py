"""Session defaults that depend on the host."""

from steel_energy_consumption_prediction_using_pyspark_spark.session import (
    default_driver_memory,
)


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_the_host_up_to_16g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # A 15.7 GiB host (16456384 kB) gets half of it, below 16g.
    assert default_driver_memory(_meminfo(tmp_path, 16456384)) == "8035m"
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024 * 1024)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert default_driver_memory(_meminfo(tmp_path, 16456384)) == "3g"
