from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (  # noqa: E402
    get_spark,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def executed_plan(spark):
    """``executed_plan(name, sf_dir)``: the executed-plan text of a
    registered query, built once per test session. The plan lints
    share it instead of each rebuilding every registered plan — the
    stream entries run micro-batches just to build theirs."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
        QUERIES,
    )

    plans: dict[tuple[str, str], str] = {}

    def plan(name: str, sf_dir: str) -> str:
        if (name, sf_dir) not in plans:
            plans[name, sf_dir] = (
                QUERIES[name](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
        return plans[name, sf_dir]

    return plan


@pytest.fixture(scope="session")
def group_stages(spark):
    """``group_stages(group)``: the status-store data of every stage
    that ran (not ``SKIPPED``) in the jobs of job group ``group``.

    In a long session the store keeps only ``spark.ui.retainedStages``
    stages and evicts skipped ones first, so a stage id a job lists can
    be gone. A missing id is tolerated only when it is proven skipped:
    the job's ``numCompletedStages`` equals the stages present that
    ran. Any other gap fails, since a count over it would be short."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def stages(group: str) -> list:
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            stage_ids = job.stageIds()
            present, missing = [], []
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                try:
                    present.append(store.lastStageAttempt(sid))
                except Py4JJavaError as e:
                    name = e.java_exception.getClass().getName()
                    if name != "java.util.NoSuchElementException":
                        raise
                    missing.append(sid)
            ran = [sd for sd in present if sd.status().toString() != "SKIPPED"]
            assert not missing or job.numCompletedStages() == len(ran), (
                f"job {jid} of {group}: stages {missing} left the status "
                f"store and are not proven skipped "
                f"({job.numCompletedStages()} completed, {len(ran)} present)"
            )
            out += ran
        return out

    return stages
