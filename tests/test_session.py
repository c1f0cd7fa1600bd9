"""session.py defaults derived from the box."""

from __future__ import annotations

import os

import pytest

from ibd_pipeline_spark.session import default_driver_memory


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        kib = next(int(x.split()[1]) for x in fh if x.startswith("MemTotal:"))
    return kib * 1024


@pytest.mark.parametrize(
    "kib,heap", [(16456384, "11g"), (2**20 * 64, "48g"), (1000000, "1g")]
)
def test_default_driver_memory_is_three_quarters_of_mem_total(tmp_path, kib, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:  123 kB\nMemTotal:       {kib} kB\n")
    assert default_driver_memory(str(meminfo)) == heap


def test_default_heap_fits_this_box(spark):
    """The default is at most 75 % of MemTotal, and a session started
    without SPARK_GRAFT_DRIVER_MEM really runs with it."""
    assert int(default_driver_memory()[:-1]) * 2**30 <= 0.75 * _mem_total_bytes()
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("heap overridden by SPARK_GRAFT_DRIVER_MEM")
    assert spark.sparkContext.getConf().get("spark.driver.memory") == (
        default_driver_memory()
    )
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap <= 0.75 * _mem_total_bytes()


def test_local_session_checkpoints_through_the_file_system_manager(spark):
    """A local master renames checkpoint files with FileSystem.rename
    (one rename(2)), not FileContext's rename, which forks `readlink`
    per path on the local file system."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
