import os

import pytest

# r17: the test corpus is tiny (sf0.001 / planted fixtures), so suite
# wall time is task-DISPATCH bound, not compute bound — local[32] pays
# 32-way scheduling on near-empty stages everywhere. local[8] halves
# the suite (test_sketch.py measured 196 s -> 96 s, identical results);
# correctness cannot depend on core count (one test pins the
# defaultParallelism fallback with an explicit stub). Respected only
# when the caller didn't pin a master/core count of their own.
# Never more task threads than the cores this process may run on: on a
# 4-core host local[8] oversubscribes every stage, and local[4] ran
# test_spandedup.py in 175 s against 258 s, results identical.
os.environ.setdefault(
    "SPARK_GRAFT_MASTER", f"local[{min(8, len(os.sched_getaffinity(0)))}]"
)

from datamunging_spark import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from datamunging_spark.sources import load_tables

    return load_tables(spark, SF)
