import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("kg-etl-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns the ids of the Spark jobs it started, once the listener bus
    has delivered every job event to the status store."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted by a test")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class Crash(RuntimeError):
    """A process death injected by the ``crash`` fixture."""


@pytest.fixture
def crash():
    """``with crash(method, nth):`` runs its body with
    ``GraphStore.<method>`` dying on its ``nth`` call (0-based), as if the
    process were killed at that step of the store's commit protocol, and
    fails unless the body died there. The files on disk stay exactly as
    the crash left them; a new ``GraphStore`` over the path recovers.

    The two steps the store's fault tests crash at:

    * ``"_commit_generation"``: the rewrite's rows are written, that
      graph's COMMIT marker is not;
    * ``"_complete_swap"``: that graph's COMMIT marker is written, its
      live partition is not yet swapped."""
    from knowledge_graph_etl_spark.store import GraphStore

    @contextmanager
    def at(method: str, nth: int = 0):
        orig = getattr(GraphStore, method)
        calls = []

        def dying(self, *args):
            if len(calls) == nth:
                raise Crash(f"{method} call {nth}")
            calls.append(args)
            return orig(self, *args)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(GraphStore, method, dying)
            with pytest.raises(Crash):
                yield

    return at
