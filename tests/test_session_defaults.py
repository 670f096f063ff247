"""``session.get_session``'s driver heap: a quarter of the host's memory, at
least 1 GB, unless ``SPARK_GRAFT_DRIVER_MEM`` names one. A fixed 16g heap was
the whole RAM of a 16 GB host, so two sessions side by side could exhaust it."""

from __future__ import annotations

import os

from sparkfusion.session import _default_driver_mem


def test_default_is_a_quarter_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:        13000000 kB\n")
    assert _default_driver_mem(str(meminfo)) == "4017m"


def test_default_is_at_least_one_gb(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:        2000000 kB\n")
    assert _default_driver_mem(str(meminfo)) == "1024m"
    assert _default_driver_mem(str(tmp_path / "missing")) == "1024m"


def test_session_heap_follows_the_override_or_the_default(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
