"""Operation accounting of the query workload (run: python -m pytest
perfbench)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from queries import record  # noqa: E402
from result import Result  # noqa: E402


def test_a_query_that_disagrees_with_its_twin_is_a_failed_operation():
    result = Result()
    record(result, "q_ok", [])
    record(result, "q_bad", ["rowcount spark=3 duck=4", "cols differ"])
    assert (result.attempted, result.failed) == (2, 1)
    assert not result.correct
    assert all(p.startswith("q_bad: ") for p in result.problems)


def test_agreeing_queries_fail_nothing():
    result = Result()
    record(result, "q_ok", [])
    assert (result.attempted, result.failed) == (1, 0)
    assert result.correct
