import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# the docling source checkout whose fixtures, groundtruth and backend
# sources the parity tests read; where it is absent they all skip,
# under this one reason
REFERENCE = Path("/root/reference")
needs_reference = pytest.mark.skipif(
    not REFERENCE.is_dir(), reason=f"needs the docling reference tree at {REFERENCE}"
)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("docling-spark-tests")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
