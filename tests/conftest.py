import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Tests run on sf0.001 fixtures where per-stage scheduling overhead, not
# data volume, dominates: the same suite measured 94s/module at
# local[32] vs 62s at local[4] (r15).  Default the TEST session to 4
# cores — an explicit SPARK_GRAFT_CPUS in the environment still wins
# (setdefault), and bench.py/production paths are unaffected (they read
# the env at their own entry points).
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# The suite's live heap stays under 1 GB (about 250 MB after a full GC at
# the end of test_reference_parity), but under the session's 48g default
# G1 grows the heap instead of collecting: the test JVM reached 8.3-15.4
# GB resident on a 15.7 GB box, and once the OOM killer took it.  A 6g
# heap keeps the suite inside the machine; the environment still wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from greengage_spark.session import get_spark

    s = get_spark("greengage-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    from greengage_spark.catalog import Catalog

    return Catalog(spark, sf_dir)
