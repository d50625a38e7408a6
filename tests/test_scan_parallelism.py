"""Scale hazard: no scan stage of the ANN serves collapses to one task.

Every sf fixture is one parquet file, so every scan runs as one task and
a ``coalesce(1)`` or a global sort that drags the corpus scan down to a
single task cannot show. Here the embeddings table is split into 16
files and each query runs under its own job group; every stage that
read input bytes must have run more than one task. Stage counters come
from the status store, the same source ``perfbench/collect.py`` reads.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.queries import (
    QUERIES,
)

N_FILES = 16


@pytest.fixture(scope="module")
def split_sf(tmp_path_factory):
    table = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    sf = tmp_path_factory.mktemp("sf_split")
    out = sf / "embeddings.parquet"
    out.mkdir()
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step), out / f"part-{i:02d}.parquet"
        )
    return str(sf)


@pytest.mark.parametrize(
    "name", ["ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk", "ivf_cell_stats"]
)
def test_scan_stages_run_more_than_one_task(spark, split_sf, group_stages, name):
    sc = spark.sparkContext
    group = f"scan_parallelism_{name}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name](spark, split_sf).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    scans = {
        sd.stageId(): (sd.numTasks(), sd.name())
        for sd in group_stages(group)
        if sd.inputBytes() > 0
    }
    assert scans, f"{name}: no stage read input under job group {group}"
    serial = {sid: s for sid, s in scans.items() if s[0] <= 1}
    assert not serial, (
        f"{name}: scan stages ran as one task over {N_FILES} input "
        f"files: {serial}"
    )
