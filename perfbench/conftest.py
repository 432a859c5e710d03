"""Benchmark-own tests run with the benchmark's pinned environment:

    python3 -m pytest perfbench -q
"""

import os

import pytest

import run

run.configure_env()

import datagen  # noqa: E402
import harness  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    session = harness.start_session(run.WORK)
    yield session
    harness.stop_session(session)


@pytest.fixture(scope="session")
def data_dir():
    d = os.path.join(run.WORK, "data", "pytest-sf0.001")
    if not os.path.exists(os.path.join(d, "_DONE")):
        datagen.generate(d, seed=7, sf=0.001)
        open(os.path.join(d, "_DONE"), "w").close()
    return d
