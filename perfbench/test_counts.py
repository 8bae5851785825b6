"""Two traced runs with the same seed must report every count metric
exactly alike: the counts depend on the seeded inputs only, never on
timing.  Slow (four benchmark runs, ~6 minutes on 4 cores):

    python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

COUNTS = (
    "serving.postings_touched_per_query",
    "wand.segments_read_per_query",
    "codec.bytes_per_posting",
    "builder.skew_ratio_group",
    "builder.index_bytes_per_input_byte",
    "ingest.write_bytes_per_input_byte",
)


def _run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["serve", "batch_retrieve"])
def test_same_seed_same_counts(workload):
    first, second = _run(workload), _run(workload)
    assert {k: first[k] for k in COUNTS} == {k: second[k] for k in COUNTS}
