"""The micro-batch apply path: touched buckets -> one bucket-keyed LWW
merge -> one pass that extracts text and writes the bucket files ->
copy-on-write commit.

This is the Spark rebuild of the reference's task chain
``task_find_new_records -> task_read_records -> task_merge_metadata ->
update_storage`` (tasks.py:34-119, app.py:24-74) collapsed into one Spark
query per micro-batch into a table that stores nothing (no data files, no
tombstone files: every bulk or initial load) or a batch that covers every
bucket, and two otherwise:

1. **One discovery query**, only when the table has stored rows or
   tombstones to prune and the batch may miss a bucket: the distinct
   buckets the batch touches, collected through ``toArrow()``.  Only those
   table buckets are read and rewritten (the semantic twin of the
   reference's changed-record short-circuit, tasks.py:52-64).  When the
   batch is an unfiltered parquet scan, its footers give its events E with
   no job (:func:`.lww._metadata_row_upper_bound` with ``exact=True``,
   which reads a ``foreachBatch`` batch's files from its RDD's
   partitions); when nb·e^(−E/nb), the expected number of buckets E
   uniformly hashed events miss, is below 0.5, the apply reads every
   bucket and skips the query.  A filtered batch has no exact count and
   always runs the query: its footers bound E only from above.  Reading a
   superset is always correct: the merge returns an untouched bucket's
   stored rows unchanged, and lineage and ``touched_buckets`` count only
   the buckets the writer reports events for.  A table that stores
   nothing has nothing to prune and skips it: its touched buckets are the
   ones the write reports.
2. **One merge** of batch (``_src`` 0, no Python on the map side) ∪ stored
   rows (``op='upsert'``) ∪ tombstones (``op='delete'``, null payload) of
   the touched buckets (``_src`` 1): one AQE-coalesced hash exchange on
   ``_bucket``, then ``max_by(payload, (warc_ts, log_offset, _src))`` per
   ``(_bucket, url)``.  bucket = f(url), so LWW is local to a bucket (the
   per-file-group merge of Iceberg / Hudi copy-on-write writers).  Ties go
   to the stored side, so a batch event applies iff it is strictly newer
   than the stored row (idempotent upsert, app.py:34-39) and the latest
   tombstone (no resurrection by stale events, app.py:54-67); exact
   duplicate deliveries share an offset, hence a payload, and collapse in
   the same aggregate.  On a fresh table the stored and tombstone inputs are
   empty and left out: the merge is the batch's own LWW.
3. **One write pass** over the winners, in the merge's reduce tasks: ONE
   ``mapInArrow`` (:meth:`.LakeTable._write_buckets`) extracts text for
   batch winners only (``_src`` 0; stored rows keep their stored text) and
   streams each bucket's rows to its own parquet file with pyarrow.  The
   merge's aggregate also counts each url's batch side (events,
   ``min``/``max(log_offset)``, ``collect_set`` of its delete events); the
   writer drops the delete winners from the data files, sums the counts
   per bucket and writes the task's delete events as one tombstone-audit
   file.  It yields per bucket (bucket, path, rows, events, lo, hi) and
   the audit file's path, which the driver collects, so each row crosses
   from the engine to Python once and no delete event reaches the driver.
4. **Atomic commit**: after the write the driver writes, with pyarrow, one
   lineage row per touched bucket from the writer's report, carrying the
   merge latency measured there; one manifest flip attaches the data,
   tombstone and lineage files and records the commit epoch (exactly-once
   under foreachBatch replays).  The audit is append-only: a delete
   re-delivered in a later batch is stored again, and
   :meth:`.LakeTable.read_tombstones` and ``compact_appends`` drop the
   duplicate (the merge reads the raw files: duplicates collapse in its
   ``max_by``).  The write's jobs are named ``apply.write`` and the
   discovery's ``apply.discover`` (``SparkContext.setJobDescription``).
   After the flip the lake's one fold rule (:meth:`.LakeTable.fold_due`)
   folds the tombstone and lineage branches, in a commit of its own, once
   either has passed ``COMPACT_APPENDS_EVERY`` files.

Negative results, kept so nobody re-adds them: persisting the applied
rows fixed the Python stage at ``spark.sql.shuffle.partitions`` tasks
(AQE cannot re-coalesce a cached relation's output), and keeping them for
the LSH index cost 14 Spark jobs per batch against 10; a measure-and-cache
``count()`` of the winner keys cost 4 Spark jobs per batch; with separate
stale-filter and tombstone-guard joins a ~1 k-event micro-batch into a
populated table cost 23 jobs.  Deciding key-only, broadcasting the winning
offsets, fetching payloads by a ``log_offset`` join and taking survivors by
a left-anti join cost six AQE jobs for the data write and 15 per batch; the
merge writes in two (cdcbench ``incr_upsert``, 4 vCPUs).  The fresh-table
apply once took its own path (key-only LWW aggregate, winner join, Arrow
extract with a per-partition duplicate collapse, Spark parquet write): 6
jobs against the merge's 4 then (2 now), and cdcbench ``bulk_load`` ran
93.7 k ev/s against 132 k (medians of 10 alternating pairs, 4 vCPUs).
A ``repartitionById`` placement (buckets dealt round-robin over
``min(buckets, cores)`` partitions, each row's partition id read from an
array literal) under the merge costs no extra exchange when the partition
id is itself a grouping key: ``groupBy("_pid", "_bucket", url)`` plans ONE
``shufflepartitionidpassthrough`` exchange.  Its balanced placement was
still slower on 4 vCPUs: 0.81–0.88 s per bulk apply against 0.75–0.76 s
with the hash exchange.  Its four reduce tasks held 11–16 k rows each and
took 190–230 ms; the hash exchange's three skewed tasks (``pmod(hash(b),
8)`` puts buckets 1, 3 and 7 together) hold 11.6/16.9/21.5 k rows and
take 137–215 ms.  The reduce stage is CPU-bound: each task runs a JVM
thread plus a Python worker.  A fixed-count ``repartition(min(touched,
cores), "_bucket")`` for a more parallel write was slower than the
AQE-coalesced one: ``bulk_load`` 126–127 k against 133 k ev/s,
``incr_upsert`` 1914–1930 against 2031 ev/s, and 90–190 MB more RSS; that
was measured with ``pmod(hash(b), 4)``, which puts buckets 0, 1, 3 and 7
in one partition, so it says nothing about an even placement.
A writer chained as a second ``mapInArrow`` after the extract
raised peak PSS by ~300 MB: each task got a second Python worker.
Spark's file writer took 110–145 ms for an 8-file, 174 KB bucket write
(144 ms under ``partitionOverwriteMode=dynamic``, 112 ms static), pyarrow
8 ms.  The tombstone audit once ran as a Spark write of its own, with a
left-anti join against every stored tombstone to keep the audit a distinct
set, and lineage as another; with the collect that made four queries and
10 jobs per ``incr_upsert`` batch.  Then the discovery collect carried
each bucket's counts and distinct deletes (capped, with a Spark-append
fallback) for the driver to write: two queries and 4 jobs per apply, a
fresh table's included.  On 4 vCPUs a Spark query costs ~50 ms
as a collect and ~100 ms as a parquet write.  So an
``Observation``-carrying tombstone write in place of the collect (lineage
from its metrics) gave only -10 to -13 % batch wall: the write query costs
about twice the collect it replaces.  ``spark.sql.adaptive.enabled=false``
made the apply slower.

A Python task's fixed cost was once ~250 ms.  Most of it was not Arrow
transfer or extraction but the worker's per-task set-up: PySpark's
``importlib.invalidate_caches()`` made each of the worker's ~19 cached zip
importers (``pyspark.zip``, the spark-core jar, ...) re-read its archive's
central directory, 120–230 ms per task on 4 vCPUs.  The write pass now
drops those importers (:func:`.session.forget_zip_importers`), and a task's
set-up is a few tens of ms.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .evolve import align_to_schema, reconcile_schema
from .lake.table import _MERGE_COLS, LakeTable, bucket_expr, bucket_placed
from .operators.cdc import tombstone_guard  # noqa: F401  (re-exported: tracers wrap it by name)
from .operators.lww import _metadata_row_upper_bound
from .operators.lww import (  # noqa: F401  (re-exported: tracers wrap them by name)
    lww_dedup_semi,
    lww_winner_rows,
)
from .schema import LINEAGE_SCHEMA, OP_DELETE, TOMBSTONE_SCHEMA

#: The batch side of each url, aggregated next to its winner and read by
#: the writer (``lake.table._MERGE_COLS``): the url's batch events, their
#: ``log_offset`` range, and its distinct batch delete events.  Summed per
#: bucket they are the lineage; the deletes are the tombstone audit.
_MERGE_AGGS = [
    "count_if(_src = 0) AS _n",
    "min(IF(_src = 0, log_offset, NULL)) AS _lo",
    "max(IF(_src = 0, log_offset, NULL)) AS _hi",
    f"collect_set(IF(_src = 0 AND op = '{OP_DELETE}', struct(warc_ts, log_offset), NULL)) AS _dels",
]


def pages_schema_for(batch_schema: T.StructType) -> T.StructType:
    """Target row schema for a change-event schema: drop ``op``, add ``text``
    right after ``html`` (schema evolution on the stream flows through)."""
    out: list[T.StructField] = []
    for f in batch_schema.fields:
        if f.name == "op":
            continue
        out.append(f)
        if f.name == "html":
            out.append(T.StructField("text", T.StringType(), True))
    return T.StructType(out)


@contextmanager
def _jobs_named(table: LakeTable, name: str):
    """Name the Spark jobs started in the block by their layer (the UI's and
    event log's job description); the caller's name is restored after."""
    sc = table.spark.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(outer)


def _covers_every_bucket(events_bound: int | None, n_buckets: int) -> bool:
    """True when a batch of ``events_bound`` events, hashed uniformly over
    ``n_buckets``, is expected to miss fewer than half a bucket
    (nb·e^(−E/nb) < 0.5): discovery could then prune nothing, so the apply
    reads every bucket.  E ≥ 23 at 8 buckets, ≥ 311 at 64.

    The 0.5 bounds what a skip rewrites for nothing, not the wall time:
    on 4 vCPUs, replays into tables of about 150 to 4,000 stored rows per
    bucket ran faster without the query (~0.06 s of it) even at 3 missed
    buckets of 8 and 9 of 64, because the extra buckets' tasks run beside
    the touched ones.  A missed bucket's rewrite grows with its stored bytes,
    the query's cost does not, so the rule keeps the expected over-read
    under one bucket at any table size."""
    return events_bound is not None and n_buckets * math.exp(-events_bound / n_buckets) < 0.5


def _touched_buckets(batch_df: DataFrame, key: str, n_buckets: int) -> list[int]:
    """THE discovery query, for a table with stored rows or tombstones to
    prune and a batch that may miss a bucket: the buckets the batch
    touches, from one narrow scan of it."""
    b = batch_df.select(bucket_expr(key, n_buckets).alias("b")).distinct().toArrow()
    return b.column("b").to_pylist()


def _arrow_lineage(report: pa.Table, batch_id: int, latency_ms: float) -> pa.Table:
    """One LINEAGE_SCHEMA row per touched bucket of the writer's report: its
    offset range and the events it received."""
    k = report.num_rows
    return pa.Table.from_arrays(
        [pa.array([batch_id] * k, pa.int64()), report.column("bucket"),
         report.column("lo"), report.column("hi"), report.column("events"),
         pa.array([latency_ms] * k, pa.float64()), pa.array([batch_id] * k, pa.int64())],
        schema=to_arrow_schema(LINEAGE_SCHEMA),
    )


def _merged_winners(
    table: LakeTable, m: dict, batch_df: DataFrame, touched: list[int] | None,
    target: T.StructType,
) -> DataFrame:
    """THE bucket-keyed merge: one row per ``(_bucket, url)`` of batch ∪
    stored rows ∪ tombstones of the ``touched`` buckets (None: the table
    stores nothing, and the batch is the only input), its winner projected
    onto ``target`` plus the ``_MERGE_COLS`` the writer reads, each bucket
    whole in one partition.  Inputs union by name, missing columns null
    (the batch has no ``text``).  Delete winners stay in: the writer drops
    them from the data files."""
    key, nb = m["key"], m["n_buckets"]
    cands = batch_df.filter(F.col(key).isNotNull()).withColumn("_src", F.lit(0))
    if touched is not None and any(m["buckets"].get(str(b)) for b in touched):
        current = table.read_buckets(touched, m)
        cands = cands.unionByName(
            current.withColumns({"op": F.lit("upsert"), "_src": F.lit(1)}),
            allowMissingColumns=True,
        )
    if m["tombstone_files"]:
        # the raw audit files: a re-delivered delete stored twice collapses
        # in the max_by below like any duplicate
        tombs = table.read_tombstones(TOMBSTONE_SCHEMA, distinct=False)
        if len(touched) < nb:
            tombs = tombs.filter(bucket_expr("url", nb).isin(touched))
        tombs = tombs.selectExpr(f"url AS `{key}`", "deleted_ts AS warc_ts", "log_offset",
                                 f"'{OP_DELETE}' AS op", "1 AS _src")
        cands = cands.unionByName(tombs, allowMissingColumns=True)
    # the lake's one placement: its exchange on _bucket satisfies the
    # aggregate's distribution, so there is no second exchange
    cands = bucket_placed(cands, key, nb)
    payload = ", ".join(f"`{c}`" for c in cands.columns if c not in (key, "_bucket"))
    aggs = [f"max_by(struct({payload}), struct(warc_ts, log_offset, _src)) AS w", *_MERGE_AGGS]
    merged = cands.groupBy("_bucket", key).agg(*[F.expr(a) for a in aggs]).selectExpr(
        "_bucket", f"`{key}`", "w.*", f"w.op = '{OP_DELETE}' AS _del", "_n", "_lo", "_hi", "_dels")
    own = merged.schema
    return align_to_schema(merged, T.StructType([*target.fields, *(own[c] for c in _MERGE_COLS)]))


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    epoch_source: str = "cdc",
    prune_buckets: bool = True,
) -> dict:
    """Apply one micro-batch of change events. Returns stats. Idempotent:
    re-delivery of an already-committed batch_id is a no-op.

    ``prune_buckets`` has no effect: a table with stored rows or tombstones
    prunes its reads to the touched buckets unless the batch covers every
    bucket (:func:`_covers_every_bucket`), and a table with neither has
    nothing to prune.  The parameter stays for callers that still pass it.

    The stats say whether the discovery query ran (``discovered``) and
    give the footer count of the batch's events it was decided by
    (``events_bound``; None when the batch is filtered or not a parquet
    scan, or, on a table that stores nothing, not asked for).  ``touched_buckets`` counts the buckets that
    received events."""
    if batch_id <= table.last_epoch(epoch_source):
        return {"batch_id": batch_id, "skipped": True}

    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - (t0 + sum(phases.values())), 3)

    m = table.manifest()
    key, nb = m["key"], m["n_buckets"]
    _mark("manifest_read")
    # batch_df is deliberately NOT cached.  Under foreachBatch it is a
    # LogicalRDD (inputFiles() is [] there), so the discovery query and the
    # merge each re-run the source's full-column scan; a batch that covers
    # every bucket skips the first.
    # 1. discovery, only when there are stored reads to prune and the
    #    batch's footers do not show it touching every bucket (a filtered
    #    batch's footers only bound it from above, so they show nothing)
    touched, events_bound, discovered = None, None, False
    if m["tombstone_files"] or any(m["buckets"].values()):
        events_bound = _metadata_row_upper_bound(batch_df, exact=True)
        if _covers_every_bucket(events_bound, nb):
            touched = list(range(nb))
        else:
            with _jobs_named(table, "apply.discover"):
                touched = _touched_buckets(batch_df, key, nb)
            discovered = True
    evolved = reconcile_schema(table.schema(m), pages_schema_for(batch_df.schema))
    _mark("dedup_and_touched")
    # 4. lineage, which the write below calls for once its data files are
    #    written (so it carries the true merge latency): one row per bucket
    #    the writer reports events for (a bucket read only because the
    #    batch covers every bucket is reported with none), attached in the
    #    same manifest flip as the data and audit files
    latency_ms = 0.0
    n_touched = 0

    def _appends(report: pa.Table) -> dict[str, list[str]]:
        nonlocal latency_ms, n_touched
        latency_ms = (time.time() - t0) * 1000.0
        received = report.filter(pc.greater(report.column("events"), 0))
        n_touched = received.num_rows
        if not n_touched:
            return {}
        return {"lineage_files": table.write_append(
            _arrow_lineage(received, batch_id, latency_ms), "lin")}

    with _jobs_named(table, "apply.write"):
        # 2-3. the merge; the write pass runs in its reduce tasks and writes
        #      the data files and the tombstone audit
        new_data = _merged_winners(table, m, batch_df, touched, evolved)
        _mark("plan_build")
        version = table.overwrite_buckets(
            new_data,
            touched,
            epoch_source=epoch_source,
            epoch=batch_id,
            new_schema=evolved,
            appends=_appends,
            # revalidation parent = the snapshot THIS batch's plan read at
            # its top (bucket pruning, stored rows, epochs all came from it)
            parent_version=m["version"],
        )
    _mark("commit_write")
    table.fold_due()  # its own commit; a lost race never kills the stream
    _mark("fold")
    return {
        "batch_id": batch_id,
        "skipped": False,
        "version": version,
        "touched_buckets": n_touched,
        "discovered": discovered,
        "events_bound": events_bound,
        "latency_ms": latency_ms,
        "phases": phases,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
