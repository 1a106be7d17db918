import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oregonwaterdataportal_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@contextmanager
def recorded_writes(spark):
    """Collect the executed plans of every write run inside the block.

    Yields a list that, on exit, holds one ``(tree, details)`` pair per
    write execution (``InsertIntoHadoopFsRelationCommand``) since entry,
    in execution order, read from the SQL status store: the plan each
    write really ran, after adaptive re-planning (the tree is the final
    plan). Executions are matched by id, so writes that other threads
    run (a partition tree's child applies) are caught too."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():  # ascending execution id
        bus.waitUntilEmpty()
        return store.executionsList()

    execs = executions()
    mark = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    writes: list[tuple[str, str]] = []
    yield writes
    execs = executions()
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= mark:
            break
        desc = e.physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc:
            tree, _, details = desc.partition("\n\n")
            writes.insert(0, (tree.split("== Initial Plan ==")[0], details))
