"""Bucket placement: ``bucket_partitioned`` puts each touched bucket whole on
one of ``min(len(buckets), defaultParallelism)`` partitions, none empty, and
the fused bulk apply's extract+write stage runs with exactly that many
tasks.  The populated-table apply writes through one bucket-keyed merge
exchange, with no broadcast and no join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log
from adsimportpipeline_spark.lake.table import LakeTable, bucket_expr, bucket_partitioned
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


def _python_write(spark, executions_before: int):
    """The one SQL execution since ``executions_before`` that runs the
    Arrow extract: the data write."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    writes = [
        execs.apply(i)
        for i in range(executions_before, execs.size())
        if "MapInArrow" in execs.apply(i).physicalPlanDescription()
    ]
    assert len(writes) == 1, [w.description() for w in writes]
    return writes[0]


def _stage_tasks_of_python_write(spark, executions_before: int) -> int:
    """Task count of the result stage of the data write that runs the
    fused Arrow extract, read from the SQL and job status stores."""
    sc = spark.sparkContext
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    last_job = max(to_java(_python_write(spark, executions_before).jobs()).keySet())
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


def _final_plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node name) of each line of an AQE plan's final plan tree."""
    tree = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = []
    for line in tree.splitlines():
        body = line.lstrip(" :|+-")
        if body:
            name = body.removeprefix("* ").split(" (")[0]
            nodes.append((len(line) - len(body), name))
    return nodes


def test_incremental_apply_write_is_one_merge_exchange(spark, tmp_path):
    """An apply into a populated 8-bucket table with tombstones: the
    data write's final plan has exactly one Exchange (the bucket-keyed
    merge), no broadcast and no join, the Arrow extract sits below that
    exchange, and each touched bucket gets exactly one data file."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=3000, n_urls=300, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    apply_batch(table, ev.filter("log_offset < 2000"), 0)
    assert table.manifest()["tombstone_files"], "tombstones must join the merge"
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = spark._jsparkSession.sharedState().statusStore().executionsList().size()
    batch = ev.filter(F.col("log_offset").between(2000, 2499))
    apply_batch(table, batch, 1)
    bus.waitUntilEmpty()

    nodes = _final_plan_nodes(_python_write(spark, before).physicalPlanDescription())
    names = [n for _, n in nodes]
    assert names.count("Exchange") == 1, names
    assert not [n for n in names if "BroadcastExchange" in n or "Join" in n], names
    ex = names.index("Exchange")
    arrow = names.index("MapInArrow")
    assert arrow > ex and nodes[arrow][0] > nodes[ex][0], names

    touched = {r.b for r in batch.select(bucket_expr("url", 8).alias("b")).distinct().collect()}
    buckets = table.manifest()["buckets"]
    assert all(len(buckets[str(b)]) == 1 for b in touched), buckets
