import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Derandomize hypothesis so a green `pytest tests/` run is reproducible:
# every property test explores the same example sequence on every run
# (examples are derived from the test body, not a random seed).  Boundary
# cases found by past random exploration are pinned as deterministic
# regression tests next to their property test.
from hypothesis import settings as _hyp_settings

_hyp_settings.register_profile("bdq_ci", derandomize=True)
_hyp_settings.load_profile("bdq_ci")

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="bdq_spark_wh_")
    session = (
        SparkSession.builder.master("local[4]")
        .appName("bdq_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.scheduler.mode", "FAIR")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture()
def distributed(spark):
    """A private session of ``spark`` with broadcasts off.  The loops
    that finish an input under the broadcast threshold on the driver
    (connected components, exact k-means, prefix-filtered Jaccard, BPE
    training) take their distributed path on frames of this session, so
    one test can pin both paths."""
    from bdq_spark.session import private_session

    return private_session(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})


def on_driver(df):
    """True when every leaf of ``df``'s analyzed plan is a driver-built
    ``LocalRelation`` (the small-input finish of connected components,
    Jaccard pairs or BPE training), False for a planned loop."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    return kinds == {"LocalRelation"}
