from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_tool_bakasura__spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bakasura-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def crash_at():
    """``with crash_at(point):`` arms the streaming sinks' crash hook so
    the sink raises ``injected crash at <point>`` right after that
    durable effect lands; the hook is cleared on exit."""
    from data_ingestion_tool_bakasura__spark.streaming import pipeline as SP

    @contextlib.contextmanager
    def arm(point: str):
        def crash(name: str) -> None:
            if name == point:
                raise RuntimeError(f"injected crash at {name}")

        SP.CRASH_HOOK = crash
        try:
            yield
        finally:
            SP.CRASH_HOOK = None

    return arm
