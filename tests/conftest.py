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
