"""The library API the benchmark calls still exists and still gives the
oracle's answer: one untraced ``perfbench`` courts pass over the fixture
corpus, checked the way the benchmark checks every pass."""

from __future__ import annotations

import os

from perfbench.tracing import NULL
from perfbench.workloads import Courts

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "metas_corpus")


def test_courts_pass_matches_oracle(spark, tmp_path):
    wl = Courts(CORPUS, str(tmp_path))
    wl.run_pass(spark, NULL)
    assert wl.check([wl.collect()]) == []
