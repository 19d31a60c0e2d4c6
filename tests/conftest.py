from __future__ import annotations

import sys
import warnings
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

warnings.filterwarnings("ignore")


@pytest.fixture(scope="session")
def spark():
    from woe_monotonic_binning_spark import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="wmb-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def reference():
    from tests._reference import load_reference

    ref = load_reference()
    if ref is None:
        pytest.skip("reference library not available")
    return ref


@pytest.fixture(scope="session")
def binning_pdf():
    from tests.fixtures import make_binning_input

    return make_binning_input()


@pytest.fixture(scope="session")
def binning_df(spark, binning_pdf):
    return spark.createDataFrame(binning_pdf).cache()


SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf0001_dir():
    return SF0001


@pytest.fixture(scope="session")
def sf001_dir():
    return SF001


def pytest_terminal_summary(terminalreporter):
    """Say so when the reference library is missing: every reference-parity
    golden test then skips, which a green summary line would hide."""
    from tests._reference import load_reference

    if load_reference() is None:
        terminalreporter.write_line(
            "reference library not available: the reference-parity golden "
            "tests were skipped"
        )
