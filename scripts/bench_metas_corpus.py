"""Shape of the reference corpus the metas benchmark synthesizes.

The reference's only benchmark (BASELINE.md) runs its two pipeline variants
over 90 court CSVs totalling 0.93 GB (largest file 118.7 MB, median
~2.2 MB). The real corpus is LFS-stubbed, so ``perfbench/inputs.py``
synthesizes one from the data here: the branch mix (27 TJ*, 24 TRE*,
24 TRT*, 6 TRF*, 3 TJM*, STM, STJ, TST — per SURVEY §5), the per-branch
meta column triples, and the file-size spread.
"""

from __future__ import annotations

import random

MB = 1 << 20

TRIPLE_KEYS = {
    "estadual": ["2_a", "2_b", "2_c", "2_ant", "4_a", "4_b", "6_a", "7_a",
                  "7_b", "8_a", "8_b", "10_a", "10_b"],
    "trabalho": ["2_a", "2_ant", "4_a", "4_b"],
    "eleitoral": ["2_a", "2_b", "2_ant", "4_a", "4_b"],
    "federal": ["2_a", "2_b", "2_ant", "4_a", "4_b", "6_a", "7_a", "7_b",
                 "8_a", "8_b", "10_a"],
    "militar": ["2_a", "2_ant", "4_a"],
}


def _courts() -> list[tuple[str, str, str, int]]:
    """(sigla, ramo, branch-template, target_bytes) for 90 courts matching
    the reference's branch mix and size spread (BASELINE.md)."""
    rng = random.Random(42)
    out = []
    # 27 state courts: TJSP is the 118.7 MB outlier; the rest 2-40 MB.
    out.append(("TJSP", "Justiça Estadual", "estadual", int(118.7 * MB)))
    for i in range(26):
        size = int(rng.uniform(2, 40) * MB)
        out.append((f"TJ{i:02d}", "Justiça Estadual", "estadual", size))
    for i in range(24):
        out.append((f"TRE-{i:02d}", "Justiça Eleitoral", "eleitoral",
                    int(rng.uniform(0.25, 6) * MB)))
    for i in range(24):
        out.append((f"TRT{i}", "Justiça do Trabalho", "trabalho",
                    int(rng.uniform(0.5, 8) * MB)))
    for i in range(6):
        out.append((f"TRF{i + 1}", "Justiça Federal", "federal",
                    int(rng.uniform(4, 30) * MB)))
    for i in range(3):
        out.append((f"TJM{i}", "Justiça Militar Estadual", "militar",
                    int(rng.uniform(0.3, 2) * MB)))
    out.append(("STM", "Justiça Militar da União", "militar", int(1.5 * MB)))
    out.append(("STJ", "Tribunais Superiores", "estadual", int(8 * MB)))
    out.append(("TST", "Tribunais Superiores", "trabalho", int(5 * MB)))
    return out
