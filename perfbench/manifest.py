"""What the benchmark measures, and the ``BENCHMARK.json`` built from it.

    python3 perfbench/manifest.py   # rewrites BENCHMARK.json

``run.py`` reports exactly ``END_TO_END`` untraced and exactly
``workloads.layer_metrics()`` traced; ``smoke.py`` checks both against the
written file.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402

RUN_SECONDS = 16

WORKLOADS = [
    ("courts_skewed",
     "paper's shape at 36 MB: 87 courts with a 525x size spread plus 3 "
     "dirty files; CSV parse, the one-shuffle aggregation and both sinks "
     "dominate"),
    ("registry_mix",
     "closed loop, one client: 12 registry queries over parquet (joins, "
     "windows, shuffles, a memoized dedup); bypasses every metas layer"),
]

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may worsen before a change counts as a regression. On a
# shared 4-core VM whole processes run 5-13 % faster or slower than each
# other (JIT outcome, neighbours), more on the planning-heavy registry
# rounds than on the parse-heavy courts passes, so every bound is 0.25.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_pass_s", "s", "lower", 0.25),
    ("pipeline_s", "s", "lower", 0.25),
    ("input_mb_per_s", "MB/s", "higher", 0.25),
    ("queries_per_s", "1/s", "higher", 0.25),
]


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in workloads.layer_metrics()
        ],
    }


if __name__ == "__main__":
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest(), fh, indent=2, ensure_ascii=False)
        fh.write("\n")
