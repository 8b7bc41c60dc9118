"""Bucket placement: every lake write places rows by one hash exchange on
``_bucket`` (``lake.table.bucket_placed``), so each bucket is whole in one
writer task and each write gives a bucket one file.  Every ``apply_batch``
writes through one bucket-keyed merge exchange, with no broadcast and no
join, and its one Python pass writes one file per touched bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log
from adsimportpipeline_spark.lake.table import LakeTable, bucket_expr
from adsimportpipeline_spark.schema import PAGES_SCHEMA


def _apply_executions(spark, fn) -> list:
    """The SQL executions ``fn()`` runs, from the status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList
    bus.waitUntilEmpty()
    before = execs().size()
    fn()
    bus.waitUntilEmpty()
    return [execs().apply(i) for i in range(before, execs().size())]


def _python_write(executions):
    """The one execution that runs a Python node: the data write."""
    writes = [e for e in executions if "MapInArrow" in e.physicalPlanDescription()]
    assert len(writes) == 1, [w.description() for w in writes]
    return writes[0]


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


def _touched(batch, n_buckets: int) -> set[int]:
    return {r.b for r in batch.select(bucket_expr("url", n_buckets).alias("b")).distinct().collect()}


@pytest.fixture
def no_coalescing(spark):
    """Partition coalescing off: a write runs one task per shuffle partition,
    so each task holds several buckets and none is merged away."""
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    yield
    spark.conf.set(coalesce, was)


def _one_file_per_bucket(spark, table: LakeTable, new_paths: set[str]) -> None:
    """Each bucket got at most one of ``new_paths``, holding only its rows."""
    n = table.manifest()["n_buckets"]
    for b, entries in table.manifest()["buckets"].items():
        mine = [e["path"] for e in entries if e["path"] in new_paths]
        assert len(mine) <= 1, (b, mine)
        for path in mine:
            rows = spark.read.parquet(path).select(bucket_expr("url", n).alias("b"))
            assert {r.b for r in rows.distinct().collect()} == {int(b)}


@pytest.mark.parametrize("writer", ["append_buckets", "compact", "rescale_buckets"])
def test_writers_place_each_bucket_whole(spark, tmp_path, no_coalescing, writer):
    """Each bucket is whole in one writer task, so a write gives it one file:
    a fast-append of 200 urls, a compaction of buckets that hold two files
    each, and a rescale 4 -> 16 buckets."""
    from datetime import datetime

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"u{i:04d}", datetime(2024, 1, 1), i, None, f"t{i}", "en", "s", None)
             for i in range(lo, hi)], PAGES_SCHEMA)

    t = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=4)
    t.append_buckets(rows(0, 200))
    t.append_buckets(rows(200, 400))
    before = {e["path"] for es in t.manifest()["buckets"].values() for e in es}
    if writer == "append_buckets":
        t.append_buckets(rows(400, 600))
    elif writer == "compact":
        t.compact()
    else:
        t.rescale_buckets(16)
    after = {e["path"] for es in t.manifest()["buckets"].values() for e in es}
    new = after - before
    assert len(new) == t.manifest()["n_buckets"], sorted(new)  # every bucket got its file
    _one_file_per_bucket(spark, t, new)
    if writer != "append_buckets":
        assert all(len(es) == 1 for es in t.manifest()["buckets"].values())
    assert t.read().count() == (600 if writer == "append_buckets" else 400)


def test_bulk_apply_writes_one_file_per_touched_bucket(spark, tmp_path, no_coalescing):
    """A bulk apply of a few hundred urls into an empty 64-bucket table,
    with partition coalescing off so the write runs one task per shuffle
    partition and each task holds several buckets: each touched bucket
    still gets exactly one file, holding only that bucket's rows, and
    untouched buckets get none."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=600, n_urls=40, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=64)
    apply_batch(table, ev, 0)

    touched = _touched(ev, 64)
    live = _touched(table.read(), 64)  # a bucket whose urls all ended deleted has no rows
    assert len(touched) < 64 and live <= touched
    buckets = table.manifest()["buckets"]
    assert {int(b) for b in buckets} == touched
    assert {int(b) for b, files in buckets.items() if files} == live
    assert all(len(buckets[str(b)]) == 1 for b in live), buckets
    n_rows = 0
    for b in live:
        (entry,) = buckets[str(b)]
        rows = spark.read.parquet(entry["path"]).select(bucket_expr("url", 64).alias("b"))
        assert {r.b for r in rows.distinct().collect()} == {b}
        n_rows += rows.count()
    assert n_rows == table.read().count() > 0


def test_incremental_apply_write_is_one_merge_exchange(spark, tmp_path):
    """An apply into a fresh 8-bucket table, then one into the populated
    table with tombstones: each data write is one SQL execution whose final
    plan has exactly one Exchange (the bucket-keyed merge), no broadcast and
    no join, and one MapInArrow above that exchange and none below it.  No
    Spark file write runs, and each touched bucket gets exactly one data
    file."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=3000, n_urls=300, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    batches = [ev.filter("log_offset < 2000"), ev.filter(F.col("log_offset").between(2000, 2499))]
    for i, batch in enumerate(batches):
        if i:
            assert table.manifest()["tombstone_files"], "tombstones must join the merge"
        executions = _apply_executions(spark, lambda: apply_batch(table, batch, i))
        assert not [e for e in executions
                    if "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()]

        nodes = _final_plan_nodes(_python_write(executions).physicalPlanDescription())
        names = [n for _, n in nodes]
        assert names.count("Exchange") == 1, names
        assert not [n for n in names if "BroadcastExchange" in n or "Join" in n], names
        assert names.count("MapInArrow") == 1, names
        ex = names.index("Exchange")
        arrow = names.index("MapInArrow")
        assert arrow < ex and nodes[arrow][0] < nodes[ex][0], names

        buckets = table.manifest()["buckets"]
        assert all(len(buckets[str(b)]) == 1 for b in _touched(batch, 8)), buckets


def test_writer_streams_buckets_in_bounded_row_groups(spark, tmp_path, monkeypatch):
    """With a one-byte write buffer and 25-row Arrow batches, the writer
    flushes every batch: each bucket's file holds many row groups, and the
    table holds exactly the rows written."""
    import random
    from datetime import datetime

    import pyarrow.parquet as pq

    from adsimportpipeline_spark.lake import table as table_mod

    urls = [f"u{i:04d}" for i in range(400)]
    random.Random(3).shuffle(urls)
    rows = [(u, datetime(2024, 1, 1), i, b"<p>x</p>", f"text {u}", "en", "s", None)
            for i, u in enumerate(urls)]
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=4)
    monkeypatch.setattr(table_mod, "_WRITE_BUFFER_BYTES", 1)
    batch_rows = "spark.sql.execution.arrow.maxRecordsPerBatch"
    was = spark.conf.get(batch_rows)
    spark.conf.set(batch_rows, "25")
    try:
        t.overwrite_buckets(spark.createDataFrame(rows, PAGES_SCHEMA), [0, 1, 2, 3])
    finally:
        spark.conf.set(batch_rows, was)

    buckets = t.manifest()["buckets"]
    assert all(len(files) == 1 for files in buckets.values()), buckets
    for (entry,) in buckets.values():
        assert pq.ParquetFile(entry["path"]).metadata.num_row_groups > 1
    got = sorted((r.url, r.log_offset, r.text) for r in t.read().collect())
    assert got == sorted((u, i, f"text {u}") for u, _, i, _, _, _, _, _ in rows)
