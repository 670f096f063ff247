"""The benchmark's own test. Runs every workload once on the shipped sf0.001
corpus with a deliberately corrupted query output and once traced, and
checks that

- every end-to-end and every per-layer metric of ``BENCHMARK.json`` is
  printed with its unit;
- the corrupted output is caught by the oracle check and counted as failed;
- an uncorrupted run has no failures;
- the benchmark exits with an error, printing no result, from a directory
  that holds only ``BENCHMARK.json`` and ``perfbench/``.

    python3 perfbench/selftest.py      # about five minutes; exit 0 = pass
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _result(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    out = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                         stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        return out.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return out.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    problems = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    def has_metrics(res: dict | None, kind: str) -> bool:
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = {k: v.get("unit") for k, v in (res or {}).get("metrics", {}).items()}
        return got == want and all(
            isinstance(v["value"], (int, float)) for v in res["metrics"].values()
        )

    for name, wl in workloads.items():
        bad = wl["queries"][0]
        rc, res = _result(["--workload", name, "--seed", "7", "--seconds", "1",
                           "--trace", "0", "--tiny", "--corrupt", bad])
        expect(rc == 0 and has_metrics(res, "end_to_end"),
               f"{name}: every end-to-end metric printed with its unit")
        expect(res is not None and not res["correct"] and res["failed"] >= 1,
               f"{name}: corrupted {bad} output counted as failed")
        rc, res = _result(["--workload", name, "--seed", "7", "--seconds", "1",
                           "--trace", "1", "--tiny"])
        expect(rc == 0 and has_metrics(res, "per_layer"),
               f"{name}: every per-layer metric printed with its unit")
        expect(res is not None and res["correct"] and res["failed"] == 0,
               f"{name}: uncorrupted traced run has no failures")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = _result(["--workload", next(iter(workloads)), "--seed", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    expect(rc != 0 and res is None, "outside a checkout: non-zero exit, no result")

    print("selftest:", "FAILED " + "; ".join(problems) if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
