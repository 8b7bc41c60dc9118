"""Bucket placement: ``bucket_partitioned`` puts each touched bucket whole on
one of ``min(len(buckets), defaultParallelism)`` partitions, none empty, and
the fused bulk apply's extract+write stage runs with exactly that many
tasks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log
from adsimportpipeline_spark.lake.table import LakeTable, bucket_partitioned
from adsimportpipeline_spark.schema import PAGES_SCHEMA


@pytest.mark.parametrize(
    "buckets",
    [
        list(range(8)),  # all 8 of 8
        [1, 9],  # of 16: alias under a plain mod 8
        [5],
        list(range(0, 60, 3)),  # 20 buckets, more than the cores
    ],
    ids=["all8", "aliasing", "single", "more_than_cores"],
)
def test_bucket_partitioned_places_whole_buckets(spark, buckets):
    n_cores = spark.sparkContext.defaultParallelism
    ids = F.array(*[F.lit(b) for b in buckets])
    df = spark.range(40 * len(buckets)).withColumn(
        "_bucket", F.get(ids, (F.col("id") % len(buckets)).cast("int"))
    )
    placed = bucket_partitioned(df, buckets)
    n_parts = min(len(buckets), n_cores)
    assert placed.rdd.getNumPartitions() == n_parts

    pairs = placed.select("_bucket", F.spark_partition_id().alias("pid")).distinct().collect()
    pid_of: dict[int, set] = {}
    for r in pairs:
        pid_of.setdefault(r["_bucket"], set()).add(r["pid"])
    assert sorted(pid_of) == sorted(buckets)
    assert all(len(pids) == 1 for pids in pid_of.values()), pid_of
    # no empty partition: every partition id holds some bucket
    assert set().union(*pid_of.values()) == set(range(n_parts))


def _stage_tasks_of_python_write(spark, executions_before: int) -> int:
    """Task count of the result stage of the data write that runs the
    fused Arrow extract, read from the SQL and job status stores."""
    sc = spark.sparkContext
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    writes = [
        execs.apply(i)
        for i in range(executions_before, execs.size())
        if "MapInArrow" in execs.apply(i).physicalPlanDescription()
    ]
    assert len(writes) == 1, [w.description() for w in writes]
    last_job = max(to_java(writes[0].jobs()).keySet())
    result_stage = max(sc.statusTracker().getJobInfo(last_job).stageIds)
    return sc.statusTracker().getStageInfo(result_stage).numTasks


def test_bulk_apply_extract_write_runs_one_task_per_bucket_group(spark, tmp_path):
    """A warm bulk apply into an empty 8-bucket table: the extract+write
    stage runs min(8, cores) tasks (a hash exchange at 4 x cores ran 32 under
    local[8], most of them empty), and each bucket gets exactly one data file."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=3000, n_urls=300, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    # the first apply is warm-up (python workers, codegen)
    for run in ("cold", "warm"):
        table = LakeTable.create(spark, str(tmp_path / run), PAGES_SCHEMA, n_buckets=8)
        bus.waitUntilEmpty()
        before = store.executionsList().size()
        apply_batch(table, ev, 0)
        bus.waitUntilEmpty()
    n_tasks = _stage_tasks_of_python_write(spark, before)
    assert n_tasks == min(8, spark.sparkContext.defaultParallelism)
    buckets = table.manifest()["buckets"]
    assert sorted(int(b) for b in buckets) == list(range(8))
    assert all(len(files) == 1 for files in buckets.values()), buckets
