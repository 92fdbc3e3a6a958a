from __future__ import annotations

import pytest

from dlt_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "dlt-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.default.parallelism": "8",
        },
    )
    yield s
    s.stop()


@pytest.fixture
def crash_after():
    """``crash_after(n)`` is a ``run_incremental`` stop probe that lets
    ``n`` batches commit: the runner calls it before each commit, and
    its (n+1)th call raises, crashing the run between commits."""

    def make(n):
        calls = {"n": 0}

        def probe():
            calls["n"] += 1
            if calls["n"] > n:
                raise RuntimeError(f"injected crash after {n} commits")
            return False

        return probe

    return make


@pytest.fixture(scope="session")
def spark_global(request):
    """Alias usable inside hypothesis @given tests (function-scoped
    fixtures don't mix with hypothesis; session scope does)."""
    return request.getfixturevalue("spark")
