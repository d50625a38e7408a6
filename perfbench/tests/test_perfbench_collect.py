"""The status-store collector on jobs whose shape is known exactly."""

import operator
import os

from collect import Counters, StatusStore


def test_rdd_jobs_stages_tasks(spark):
    sc, store = spark.sparkContext, StatusStore(spark)
    sc.setJobGroup("perfbench-map", "map")
    sc.parallelize(range(8), 4).map(lambda x: x).collect()
    pairs = sc.parallelize(range(8), 4).map(lambda x: (x % 2, 1)).reduceByKey(operator.add, 3)
    sc.setJobGroup("perfbench-shuffle", "shuffle")
    assert sorted(pairs.collect()) == [(0, 4), (1, 4)]
    sc.setJobGroup("perfbench-reuse", "reuse")
    pairs.collect()
    store.settle()

    one = store.group("perfbench-map")
    assert (one.jobs, one.stages, one.tasks) == (1, 1, 4)
    assert one.cpu_s > 0 and one.shuffle_write_bytes == 0
    two = store.group("perfbench-shuffle", tasks=True)
    assert (two.jobs, two.stages, two.tasks) == (1, 2, 7)
    assert two.shuffle_write_bytes > 0 and 0 < two.max_task_share <= 1
    # the second collect reuses the shuffle output: its map stage is skipped
    reuse = store.group("perfbench-reuse")
    assert (reuse.jobs, reuse.stages, reuse.tasks) == (1, 1, 3)
    total = one + two
    assert (total.jobs, total.stages, total.tasks) == (2, 3, 11)


def test_stream_jobs_are_keyed_by_run_id(spark, tmp_path):
    sc, store = spark.sparkContext, StatusStore(spark)
    src = tmp_path / "in"
    os.makedirs(src)
    (src / "a.csv").write_text("x\n1\n2\n")

    def batch(df, epoch_id):
        sc.parallelize(range(4), 2).count()

    sc.setJobGroup("perfbench-driver", "driver thread")
    q = (spark.readStream.schema("x long").option("header", True).csv(str(src))
         .writeStream.foreachBatch(batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    store.settle()
    assert store.job_ids("perfbench-driver") == []
    c = store.group(str(q.runId))
    assert (c.jobs, c.stages, c.tasks) == (1, 1, 2)


def test_busy_seconds_merge_overlapping_jobs():
    c = Counters(job_spans=[(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)])
    assert c.busy_s(0.0, 10.0) == 5.0
