"""Smoke test of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs the full command path of ``perfbench/run.py`` with ``--size tiny``
(``tests/data/metas_corpus``, a 24-file drifted corpus and sf0.001 tables):
every workload traced, plus an untraced run of ``courts_many_files``, two
runs at a time. Each run must exit 0, check its outputs correct, and
print exactly the metrics that ``BENCHMARK.json`` lists; the file itself must
match ``manifest.py``. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import manifest  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert spec == manifest.manifest(), "BENCHMARK.json is stale: run perfbench/manifest.py"
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    runs = [(w["name"], 1) for w in spec["workloads"]] + [("courts_many_files", 0)]
    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(lambda r: (r, _run(*r)), runs))
    for (workload, trace), res in results:
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == expected[trace], (workload, trace, set(got) ^ set(expected[trace]))
        for name, m in res["metrics"].items():
            assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], name
        print(f"ok {workload} trace={trace} attempted={res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
