"""What perfbench needs from the rest of the checkout: the files its run.py
requires before it will start, and the /proc helpers it loads from bench.py.
Also the contention flag, which must not self-flag on its own JVM's load (r5
post-mortem — artifact flagged with loadavg 11.2 but foreign_cpu_frac 0.0)."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_perfbench_dependencies_present():
    # perfbench/run.py refuses to run in a checkout missing any of these
    for p in ("BENCHMARK.json", "sparkfusion", "bench.py",
              "tools/check_oracle.py", "tools/scale_testdata.py"):
        assert os.path.exists(os.path.join(ROOT, p)), p
    b = _load_bench()
    assert b._cpu_sample()[0] > 0
    assert b._own_cpu() > 0
    assert b._loadavg() >= 0


def test_own_jvm_load_does_not_flag():
    b = _load_bench()
    # high loadavg from our own 32-thread JVM, zero foreign cpu → clean
    assert not b._is_contended(foreign_frac=0.0, load_start=11.2)
    assert not b._is_contended(foreign_frac=0.04, load_start=30.0)


def test_foreign_competitor_flags():
    b = _load_bench()
    assert b._is_contended(foreign_frac=0.06, load_start=0.1)
    assert b._is_contended(foreign_frac=0.5, load_start=5.0)


def test_loadavg_fallback_when_sampling_failed():
    b = _load_bench()
    # /proc/stat unavailable → fall back to the loadavg heuristic
    assert b._is_contended(foreign_frac=-1.0, load_start=2.5)
    assert not b._is_contended(foreign_frac=-1.0, load_start=0.5)
