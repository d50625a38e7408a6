"""``pipeline_batch.run`` end to end on a benchmark-shaped raw zone: how
many times it reads the CSVs, and what its processed zone (S6) holds.

The zone is three days of the benchmark's generator
(``perfbench/gen.write_history``, imported read-only): the 10,000
products are a fixed share of it, so one pass over the inputs (products,
orders twice for the J1 and J2 broadcasts, items) reads about 1.1 × the
raw bytes, and a run that plans each of its four KPI writes from the
CSVs reads about 4.4 ×.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
    pipeline_batch,
)

GEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "gen.py"
)
GROUP = "test_pipeline_batch_run"
#: Spark input bytes of one run over the raw CSV bytes: each of the two
#: KPIs is computed once, and each computation reads the inputs once.
MAX_READ_AMPLIFICATION = 2.5


@pytest.fixture(scope="module")
def batch_run(spark, group_stages, tmp_path_factory):
    """One default run under its own job group: its output paths, the
    Spark input bytes of its stages and the raw zone's bytes."""
    spec = importlib.util.spec_from_file_location("perfbench_gen", GEN)
    gen = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)  # dataclasses resolve it via sys.modules
    base = tmp_path_factory.mktemp("batch_run")
    raw, out = str(base / "raw"), str(base / "out")
    inj = gen.write_history(gen.ZoneSpec(seed=3, history_days=3), raw)
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, GROUP)
    try:
        paths = pipeline_batch.run(spark, raw, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    input_bytes = sum(sd.inputBytes() for sd in group_stages(GROUP))
    return paths, input_bytes, inj.raw_bytes


def test_batch_run_reads_the_raw_zone_at_most_twice(batch_run):
    _, input_bytes, raw_bytes = batch_run
    amplification = input_bytes / raw_bytes
    assert amplification <= MAX_READ_AMPLIFICATION, (
        f"pipeline_batch.run read {input_bytes} B of Spark input over "
        f"{raw_bytes} B of raw CSV ({amplification:.2f} ×)"
    )


@pytest.mark.parametrize("name", ["category_kpi", "order_kpi"])
def test_processed_zone_equals_upsert_tables(spark, batch_run, name):
    """``processed/<run_ts>/<kpi>`` (headed CSV, S6) holds the rows of
    the run's upsert table (S7), row for row, once cast to its types."""
    paths = batch_run[0]
    table = spark.read.parquet(paths[name])
    csv = spark.read.option("header", True).csv(os.path.join(paths["processed"], name))
    assert sorted(csv.columns) == sorted(table.columns)
    cols = sorted(table.columns)
    types = dict(table.dtypes)
    got = csv.select(*(F.col(c).cast(types[c]).alias(c) for c in cols)).collect()
    want = table.select(*cols).collect()
    assert want
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
