import os
import pathlib
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    # Hermeticity: the warehouse lives in a fresh tmpdir so a killed
    # prior run's spark-warehouse/<table> directory can never block
    # saveAsTable (LOCATION_ALREADY_EXISTS) — the catalog of a new
    # session doesn't know about orphan directories, so DROP TABLE IF
    # EXISTS is a no-op against them.
    warehouse = tempfile.mkdtemp(prefix="morph-spark-warehouse-")
    session = (
        SparkSession.builder.master("local[4]")
        .appName("morph-xr2rml-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
    )
    yield session
    session.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def read_reference():
    """``read_reference(path)`` is the text of a file from the reference
    distribution's checkout (its example mappings, queries and recorded
    results). When the file is absent the calling test is skipped, and
    the skip reason names the file, so a box without the checkout runs
    the rest of the suite green and shows what went unverified."""

    def read(path) -> str:
        path = pathlib.Path(path)
        if not path.is_file():
            pytest.skip(f"reference file missing: {path}")
        return path.read_text()

    return read
