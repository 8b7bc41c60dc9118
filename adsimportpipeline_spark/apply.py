"""The micro-batch apply path: touched buckets -> one bucket-keyed LWW
merge -> one pass that extracts text and writes the bucket files ->
copy-on-write commit.

This is the Spark rebuild of the reference's task chain
``task_find_new_records -> task_read_records -> task_merge_metadata ->
update_storage`` (tasks.py:34-119, app.py:24-74) collapsed into two Spark
queries per micro-batch, the same for a fresh table and a populated one:

1. **One discovery query** (``groupBy(bucket)``, collected through
   ``toArrow()``, which keeps the UTC timestamps): per touched bucket the
   event count, ``min``/``max(log_offset)`` and the bucket's distinct delete
   events (``collect_set``).  Only the table buckets holding the batch's
   urls are read and rewritten (the semantic twin of the reference's
   changed-record short-circuit, tasks.py:52-64); the deletes and counts
   become the tombstone audit and the lineage, written by the driver.
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
   streams each bucket's rows to its own parquet file with pyarrow.  It
   yields each file's (bucket, path, rows), which the driver collects, so
   each row crosses from the engine to Python once.
4. **Atomic commit**: after the write the driver writes, with pyarrow, the
   batch's delete events to the tombstone audit and one lineage row per
   touched bucket carrying the merge latency measured there; one manifest
   flip attaches the data, tombstone and lineage files and records the
   commit epoch (exactly-once under foreachBatch replays).  The audit is
   append-only: a delete re-delivered in a later batch is stored again, and
   :meth:`.LakeTable.read_tombstones` and ``compact_appends`` drop the
   duplicate (the merge reads the raw files: duplicates collapse in its
   ``max_by``).  A batch with too many deletes to collect
   (``MAX_COLLECTED_DELETES``) appends them with one narrow Spark write
   instead.

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
jobs against 4 now, and cdcbench ``bulk_load`` ran 93.7 k ev/s against
132 k (medians of 10 alternating pairs, 4 vCPUs).
``repartitionById`` (:func:`.lake.table.bucket_partitioned`) under the
merge's aggregate costs two extra exchanges: it does not satisfy the
aggregate's ``ClusteredDistribution(_bucket, url)``, so Spark adds
``hashpartitioning(_bucket, url)`` and the write a third exchange; the hash
``repartition(_bucket)`` does satisfy it.  A fixed-count
``repartition(min(touched, cores), "_bucket")`` for a more parallel write
was slower than the AQE-coalesced one: ``bulk_load`` 126–127 k against
133 k ev/s, ``incr_upsert`` 1914–1930 against 2031 ev/s, and 90–190 MB
more RSS.  A writer chained as a second ``mapInArrow`` after the extract
raised peak PSS by ~300 MB: each task got a second Python worker.
Spark's file writer took 110–145 ms for an 8-file, 174 KB bucket write
(144 ms under ``partitionOverwriteMode=dynamic``, 112 ms static), pyarrow
8 ms.  The tombstone audit once ran as a Spark write of its own, with a
left-anti join against every stored tombstone to keep the audit a distinct
set, and lineage as another; with the collect that made four queries and
10 jobs per ``incr_upsert`` batch.  On 4 vCPUs a Spark query costs ~50 ms
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

import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .evolve import align_to_schema, reconcile_schema
from .lake.table import CommitConflictError, LakeTable, bucket_expr
from .operators.cdc import tombstone_guard  # noqa: F401  (re-exported: tracers wrap it by name)
from .operators.lww import (  # noqa: F401  (re-exported: tracers wrap them by name)
    lww_dedup_semi,
    lww_winner_rows,
)
from .schema import LINEAGE_SCHEMA, OP_DELETE, TOMBSTONE_SCHEMA

#: Every this many batch ids, ``apply_batch`` folds the append-only
#: tombstone/lineage branches (:meth:`LakeTable.compact_appends`): one file
#: per batch each would otherwise grow the per-batch tombstone reads and the
#: manifest with the table's lifetime; the fold keeps both O(1).
COMPACT_APPENDS_EVERY = 32

#: Bound on the delete events the touched-bucket collect brings to the
#: driver (a url and two 8-byte fields each): each bucket returns its
#: distinct deletes only while it has at most ``MAX_COLLECTED_DELETES //
#: n_buckets`` delete events.  A batch with any bucket over that share
#: appends its audit with one narrow Spark write instead
#: (:func:`_tombstone_rows`).
MAX_COLLECTED_DELETES = 100_000

#: The merge's own columns that ride into the write pass: the source side
#: (0 = batch, whose winners get their text extracted there) and the bucket.
_MERGE_COLS = [T.StructField("_src", T.IntegerType()), T.StructField("_bucket", T.IntegerType())]


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


def _touched_summary(batch_df: DataFrame, key: str, n_buckets: int) -> pa.Table:
    """THE discovery query: a pyarrow Table with one row per touched bucket
    ``b``: event count ``n``, ``lo``/``hi`` log offsets and ``dels``, the
    bucket's distinct delete events as (url, deleted_ts, log_offset)
    structs, null when the bucket holds more than its share of
    ``MAX_COLLECTED_DELETES``.  ``toArrow()``, not ``collect()``: the
    timestamps stay UTC instead of turning into local-time datetimes."""
    cap = MAX_COLLECTED_DELETES // n_buckets
    is_del = f"op = '{OP_DELETE}'"
    dels = (f"collect_set(CASE WHEN {is_del} THEN named_struct('url', `{key}`, "
            "'deleted_ts', warc_ts, 'log_offset', log_offset) END)")
    aggs = ["count(1) AS n", "min(log_offset) AS lo", "max(log_offset) AS hi",
            f"CASE WHEN count_if({is_del}) <= {cap} THEN {dels} END AS dels"]
    return (batch_df.groupBy(bucket_expr(key, n_buckets).alias("b"))
            .agg(*[F.expr(a) for a in aggs]).toArrow())


def _tombstone_rows(batch_df: DataFrame, key: str) -> DataFrame:
    """The batch's delete events as TOMBSTONE_SCHEMA rows, for the Spark
    write of a batch whose deletes were not collected.  Narrow: no distinct
    and no anti-join against stored tombstones; the audit's readers drop
    duplicates."""
    return batch_df.filter(F.col("op") == OP_DELETE).selectExpr(
        f"`{key}` AS url", "warc_ts AS deleted_ts", "'deleted' AS key", "log_offset")


def _arrow_tombstones(summary) -> pa.Table:
    """The collected deletes as a TOMBSTONE_SCHEMA table."""
    rows = pc.list_flatten(summary.column("dels")).combine_chunks()
    return pa.Table.from_arrays(
        [rows.field("url"), rows.field("deleted_ts"),
         pa.array(["deleted"] * len(rows), pa.string()), rows.field("log_offset")],
        schema=to_arrow_schema(TOMBSTONE_SCHEMA),
    )


def _arrow_lineage(summary, batch_id: int, latency_ms: float) -> pa.Table:
    """One LINEAGE_SCHEMA row per touched bucket: its offset range and the
    events it received."""
    k = summary.num_rows
    return pa.Table.from_arrays(
        [pa.array([batch_id] * k, pa.int64()), summary.column("b"),
         summary.column("lo"), summary.column("hi"), summary.column("n"),
         pa.array([latency_ms] * k, pa.float64()), pa.array([batch_id] * k, pa.int64())],
        schema=to_arrow_schema(LINEAGE_SCHEMA),
    )


def _merged_winners(
    table: LakeTable, m: dict, batch_df: DataFrame, touched: list[int], target: T.StructType
) -> DataFrame:
    """THE bucket-keyed merge: the upsert winners of batch ∪ stored rows ∪
    tombstones of the ``touched`` buckets, projected onto ``target`` plus
    ``_src`` and ``_bucket``, each bucket whole in one partition.  Inputs
    union by name, missing columns null (the batch has no ``text``)."""
    key, nb = m["key"], m["n_buckets"]
    cands = batch_df.filter(F.col(key).isNotNull()).withColumn("_src", F.lit(0))
    if any(m["buckets"].get(str(b)) for b in touched):
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
    # a hash exchange, not bucket_partitioned: HashPartitioning(_bucket)
    # satisfies the aggregate's distribution, so each bucket lands whole in
    # one partition with no second exchange, and AQE coalesces partitions
    cands = cands.withColumn("_bucket", bucket_expr(key, nb)).repartition("_bucket")
    payload = ", ".join(f"`{c}`" for c in cands.columns if c not in (key, "_bucket"))
    winner = F.expr(f"max_by(struct({payload}), struct(warc_ts, log_offset, _src))")
    merged = cands.groupBy("_bucket", key).agg(winner.alias("w")).select("_bucket", key, "w.*")
    merged = merged.filter(F.col("op") != OP_DELETE)
    return align_to_schema(merged, T.StructType([*target.fields, *_MERGE_COLS]))


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    epoch_source: str = "cdc",
    prune_buckets: bool = True,
) -> dict:
    """Apply one micro-batch of change events. Returns stats. Idempotent:
    re-delivery of an already-committed batch_id is a no-op.

    ``prune_buckets`` has no effect: the touched-bucket discovery always
    runs, because the tombstone audit and lineage come from it.  The
    parameter stays for callers that still pass it."""
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
    # batch_df is deliberately NOT cached: its two passes (the discovery
    # query and the merge) prune to different columns, so columnar re-reads
    # from the source beat materializing full rows on heap.
    # 1. discovery: which table buckets does this batch touch, and its
    #    tombstone audit and lineage, from one narrow scan of the batch
    summary = _touched_summary(batch_df, key, nb)
    touched = summary.column("b").to_pylist()
    evolved = reconcile_schema(table.schema(m), pages_schema_for(batch_df.schema))
    _mark("dedup_and_touched")
    # 2-3. the merge; the write pass runs in its reduce tasks
    new_data = _merged_winners(table, m, batch_df, touched, evolved)

    # 4. the append-only branches, written once the data write is done (so
    #    the lineage carries the true merge latency) and attached in the
    #    same manifest flip.  Every delete event of the batch goes to the
    #    audit (reference app.py:15-21 appends every delete to change_log);
    #    it stays a distinct set to its readers.
    latency_ms = 0.0

    def _appends() -> dict[str, list[str]]:
        nonlocal latency_ms
        latency_ms = (time.time() - t0) * 1000.0
        out = {"lineage_files": [], "tombstone_files": []}
        if summary.num_rows:
            out["lineage_files"] = table.write_append(
                _arrow_lineage(summary, batch_id, latency_ms), "lin")
        if summary.column("dels").null_count:
            out["tombstone_files"] = table.write_append(_tombstone_rows(batch_df, key), "tomb")
        else:
            tombs = _arrow_tombstones(summary)
            if tombs.num_rows:
                out["tombstone_files"] = table.write_append(tombs, "tomb")
        return out

    _mark("plan_build")
    version = table.overwrite_buckets(
        new_data,
        touched,
        epoch_source=epoch_source,
        epoch=batch_id,
        new_schema=evolved,
        appends=_appends,
        # revalidation parent = the snapshot THIS batch's plan read at its
        # top (bucket pruning, stored rows, epochs all came from it)
        parent_version=m["version"],
    )
    _mark("commit_write")
    # periodic fold (COMPACT_APPENDS_EVERY) in its own atomic commit: a
    # crash between the two commits loses only the fold, never data.  The
    # fold is COSMETIC: losing a CAS to a concurrent maintenance job
    # (compact/expire between the data commit above and here) must not kill
    # the streaming query — absorb one conflict with a fresh re-plan, and if
    # the table is racing that hard this trigger just skips; the next
    # scheduled batch folds everything anyway.
    if batch_id % COMPACT_APPENDS_EVERY == COMPACT_APPENDS_EVERY - 1:
        try:
            table.compact_appends(retries=1)
        except CommitConflictError:
            pass
        _mark("compact_appends")
    return {
        "batch_id": batch_id,
        "skipped": False,
        "version": version,
        "touched_buckets": len(touched),
        "latency_ms": latency_ms,
        "phases": phases,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
