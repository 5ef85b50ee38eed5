import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from reforacle import PKG as REF_PKG, REF_PATH  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")
REFERENCE = os.path.dirname(REF_PATH)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "needs_reference: the test reads the upstream reference checkout "
        "in a way its failure message does not show",
    )


def _needs_reference(report) -> bool:
    text = report.longreprtext or ""
    return (
        REFERENCE in text
        or REF_PKG in text
        or "needs_reference" in getattr(report, "keywords", {})
    )


def pytest_terminal_summary(terminalreporter):
    """One line that splits failures into those explained by a missing
    reference checkout and the rest, so a real regression is not buried
    under the reference-bound ones."""
    stats = terminalreporter.stats
    bad = stats.get("failed", []) + stats.get("error", [])
    if not bad:
        return
    ref = sum(map(_needs_reference, bad))
    state = "present" if os.path.isdir(REFERENCE) else "absent"
    terminalreporter.write_line(
        f"{ref} failed/errored tests need {REFERENCE} ({state}): "
        f"unverified; {len(bad) - ref} other failures"
    )


@pytest.fixture(scope="session")
def spark():
    from pdfplumber_spark.session import get_spark

    s = get_spark(app_name="pdfplumber-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
