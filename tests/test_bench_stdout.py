"""bench.py's closing stdout lines must survive the driver's ~2000-char
tail capture: every line is short, each per-query line parses alone,
and the last line is the parseable summary."""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import stdout_lines  # noqa: E402


def test_stdout_lines_chunk_the_query_map_under_the_tail_window():
    rng = random.Random(7)
    timings = {
        f"query_{i:03d}_{'x' * rng.randrange(0, 30)}": round(rng.uniform(0.05, 40.0), 3)
        for i in range(161)
    }
    lines = stdout_lines(timings, metric="full_registry_total_runtime",
                         value=round(sum(timings.values()), 3), sf=0.1,
                         n_errors=2, detail_name="BENCH_FULL_DETAIL_c4.json")
    assert all(len(line) <= 1900 for line in lines)
    *chunks, final = lines
    assert len(chunks) > 1
    union: dict[str, float] = {}
    for line in chunks:
        part = json.loads(line)["queries"]
        assert not union.keys() & part.keys()
        union.update(part)
    assert union == timings
    assert json.loads(final) == {
        "metric": "full_registry_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "n_errors": 2,
        "detail": "BENCH_FULL_DETAIL_c4.json",
    }
