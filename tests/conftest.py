"""Shared Spark fixture for the test suite."""

from __future__ import annotations

import pytest

from data_reconciliation_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="recon-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture
def sample_csvs(tmp_path):
    """(old, new) CSV paths holding the reference's sample pair rows."""
    from tests.sample_rows import write_sample_csvs

    return write_sample_csvs(str(tmp_path))


# ---------------------------------------------------------------------------
# Skip-creep guard (round-4 verdict #7): the suite's ONLY sanctioned
# skips are the environment-gated Iceberg tests (no
# iceberg-spark-runtime jar in the sandbox).  Any other skip fails the
# run, so "pytest green" can never silently erode into "green except
# the parts that quietly stopped running".
# ---------------------------------------------------------------------------

SKIP_ALLOWLIST = {
    # nodeid file -> required reason substring
    "tests/test_iceberg_catalog.py": "iceberg-spark-runtime not on classpath",
}

_observed_skips: list[tuple[str, str]] = []


def pytest_runtest_logreport(report):
    if report.skipped:
        reason = ""
        if isinstance(report.longrepr, tuple):  # (path, lineno, reason)
            reason = str(report.longrepr[2])
        else:
            reason = str(report.longrepr)
        _observed_skips.append((report.nodeid, reason))


def pytest_sessionfinish(session, exitstatus):
    rogue = [
        (nodeid, reason)
        for nodeid, reason in _observed_skips
        # match on basename so invocation cwd doesn't matter
        if not any(
            f.rsplit("/", 1)[-1] in nodeid and allowed in reason
            for f, allowed in SKIP_ALLOWLIST.items()
        )
    ]
    if rogue:
        lines = "\n".join(f"  {n}: {r}" for n, r in rogue)
        print(
            "\nERROR: skips outside the documented allowlist "
            f"(tests/conftest.py SKIP_ALLOWLIST):\n{lines}\n"
        )
        session.exitstatus = 1
