"""The micro-batch apply path: touched buckets -> Arrow extract -> one
bucket-keyed LWW merge -> copy-on-write commit.

This is the Spark rebuild of the reference's task chain
``task_find_new_records -> task_read_records -> task_merge_metadata ->
update_storage`` (tasks.py:34-119, app.py:24-74) collapsed into one
DataFrame plan executed per micro-batch inside ``foreachBatch``:

1. **One discovery query** (``groupBy(bucket)``, collected through
   ``toArrow()``, which keeps the UTC timestamps): per touched bucket the
   event count, ``min``/``max(log_offset)`` and the bucket's distinct delete
   events (``collect_set``).  Only the table buckets holding the batch's
   urls are read and rewritten (the semantic twin of the reference's
   changed-record short-circuit, tasks.py:52-64); the row count sizes the
   bulk path's winner join without a measuring job; the deletes and counts
   become the tombstone audit and the lineage, written by the driver.
2. **HTML->text** in one ``mapInArrow`` pass right after the batch scan,
   for every batch upsert, losers included (O(batch)); stored rows never
   enter Python.
3. **One merge** of batch (``_src`` 0) ∪ stored rows (``op='upsert'``) ∪
   tombstones (``op='delete'``, null payload) of the touched buckets
   (``_src`` 1): one exchange on ``_bucket``, then ``max_by(payload,
   (warc_ts, log_offset, _src))`` per ``(_bucket, url)``.  bucket = f(url),
   so LWW is local to a bucket (the per-file-group merge of Iceberg / Hudi
   copy-on-write writers).  Ties go to the stored side, so a batch event
   applies iff it is strictly newer than the stored row (idempotent upsert,
   app.py:34-39) and the latest tombstone (no resurrection by stale events,
   app.py:54-67); exact duplicate deliveries share an offset, hence a
   payload, and collapse in the same aggregate.
4. **Atomic commit**: the data write (each bucket whole in one partition:
   one file per bucket, no second exchange) is the only other Spark query.
   After it the driver writes, with pyarrow, the batch's delete events to
   the tombstone audit and one lineage row per touched bucket carrying the
   merge latency measured there; one manifest flip attaches the data,
   tombstone and lineage files and records the commit epoch (exactly-once
   under foreachBatch replays).  The audit is append-only: a delete
   re-delivered in a later batch is stored again, and
   :meth:`.LakeTable.read_tombstones` and ``compact_appends`` drop the
   duplicate (the merge reads the raw files: duplicates collapse in its
   ``max_by``).  A batch with too many deletes to collect
   (``MAX_COLLECTED_DELETES``) appends them with one narrow Spark write
   instead.

A fresh table (no stored rows, no tombstones) takes the fused bulk path:
the batch's own LWW winners, placed by bucket, go through one duplicate
collapse + extract Arrow pass, so text is extracted for winners only.

Negative results, kept so nobody re-adds them: persisting the applied
rows fixed the Python stage at ``spark.sql.shuffle.partitions`` tasks
(AQE cannot re-coalesce a cached relation's output); a measure-and-cache
``count()`` of the winner keys cost 4 Spark jobs per batch; with separate
stale-filter and tombstone-guard joins a ~1 k-event micro-batch into a
populated table cost 23 jobs.  Deciding key-only, broadcasting the winning
offsets, fetching payloads by a ``log_offset`` join and taking survivors by
a left-anti join cost six AQE jobs for the data write and 15 per batch; the
merge writes in two and a batch runs 10 (cdcbench ``incr_upsert``, 4
vCPUs).  ``repartitionById`` (:func:`.lake.table.bucket_partitioned`) under
the merge's aggregate costs two extra exchanges: it does not satisfy the
aggregate's ``ClusteredDistribution(_bucket, url)``, so Spark adds
``hashpartitioning(_bucket, url)`` and the write a third exchange; the hash
``repartition(_bucket)`` does satisfy it.  The bulk path once
hashed its 8 bucket ids into 4 × cores = 16 partitions: 9 of the 16
Python tasks were empty and two buckets collided in one partition, so the
extract+write stage ran four waves where one suffices.  Whole buckets now
land on ``min(buckets, cores)`` partitions by id (``bucket_partitioned``).
The tombstone audit once ran as a Spark write of its own, with a left-anti
join against every stored tombstone to keep the audit a distinct set, and
lineage as another; with the collect that made four queries and 10 jobs per
``incr_upsert`` batch, where the collect and the data write now run 4.  On
4 vCPUs a Spark query costs ~50 ms as a collect and ~100 ms as a parquet
write.  So an ``Observation``-carrying tombstone write in place of the
collect (lineage from its metrics) gave only -10 to -13 % batch wall: the
write query costs about twice the collect it replaces.  Also measured
for this design: ``repartition(min(touched, cores), "_bucket")`` for a
more parallel merge write gave no gain, and
``spark.sql.adaptive.enabled=false`` made the apply slower.

That fixed cost was once ~250 ms per Python task.  Most of it was not Arrow
transfer or extraction but the worker's per-task set-up: PySpark's
``importlib.invalidate_caches()`` made each of the worker's ~19 cached zip
importers (``pyspark.zip``, the spark-core jar, ...) re-read its archive's
central directory, 120–230 ms per task on 4 vCPUs.  The Arrow pass now
drops those importers (:func:`.session.forget_zip_importers`), and a task's
set-up is a few tens of ms.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from .evolve import align_to_schema, reconcile_schema
from .lake.table import CommitConflictError, LakeTable, bucket_expr, bucket_partitioned
from .operators.cdc import tombstone_guard  # noqa: F401  (re-exported: tracers wrap it by name)
from .operators.lww import (
    lww_dedup_salted,
    lww_dedup_semi,  # noqa: F401  (re-exported: tracers wrap it by name)
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


def _text_after_html_fields(
    fields: list[T.StructField], skip: str
) -> list[T.StructField]:
    """THE target-row field order: input fields minus ``skip``, with the
    derived ``text`` column inserted right after ``html``.  One definition —
    pages_schema_for and the fused bulk path's Arrow output schema must
    agree on it exactly."""
    out: list[T.StructField] = []
    for f in fields:
        if f.name == skip:
            continue
        out.append(f)
        if f.name == "html":
            out.append(T.StructField("text", T.StringType(), True))
    return out


def pages_schema_for(batch_schema: T.StructType) -> T.StructType:
    """Target row schema for a change-event schema: drop ``op``, add ``text``
    right after ``html`` (schema evolution on the stream flows through)."""
    return T.StructType(_text_after_html_fields(batch_schema.fields, "op"))


def _arrow_text(df: DataFrame, key: str, collapse: bool) -> DataFrame:
    """``df`` (minus ``_bucket``) with ``text`` right after ``html``, in ONE
    ``mapInArrow`` pass; a delete's text stays null (it is never written).
    ``collapse`` also drops rows whose url this partition has already seen:
    correct only when each partition holds whole urls and exact duplicate
    deliveries are the only multiplicity left (offsets identify events, so
    co-keyed winners are byte-identical — keeping any one is LWW)."""
    out_fields = _text_after_html_fields(df.schema.fields, "_bucket")
    out_cols = [f.name for f in out_fields]

    def _text_arrow(it: "Iterator") -> "Iterator":
        # mapInArrow, not mapInPandas: the row payload (html binary, text)
        # stays in Arrow buffers end-to-end — a pandas pass materialized
        # every html as a Python bytes object and every text as a Python
        # str TWICE (in and out), the dominant python-side cost of this
        # stage.  Only the ~30-byte urls are materialized, for the
        # duplicate collapse.
        import pyarrow as pa
        import pyarrow.compute as pc

        from .functions.html import extract_text_arrow
        from .session import forget_zip_importers

        forget_zip_importers()  # the next task's worker set-up stays cheap
        seen: set = set()  # urls of THIS partition only (one bucket group)
        for batch in it:
            if collapse:
                mask = []
                for u in batch.column(batch.schema.get_field_index(key)).to_pylist():
                    mask.append(u not in seen)
                    seen.add(u)
                batch = batch.filter(pa.array(mask, type=pa.bool_()))
                if batch.num_rows == 0:
                    continue
            cols = {name: batch.column(batch.schema.get_field_index(name))
                    for name in batch.schema.names}
            html = cols["html"]
            if "op" in cols:
                html = pc.if_else(pc.equal(cols["op"], OP_DELETE),
                                  pa.scalar(None, html.type), html)
            cols["text"] = extract_text_arrow(html)
            yield pa.RecordBatch.from_arrays(
                [cols[name] for name in out_cols], names=out_cols
            )

    return df.mapInArrow(_text_arrow, T.StructType(out_fields))


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


def _bulk_upserts(
    batch_df: DataFrame,
    key: str,
    n_buckets: int,
    target_schema: T.StructType,
    cleanup: list,
    n_rows: int | None,
    touched: list[int],
) -> DataFrame:
    """Fresh-table bulk apply: :func:`lww_winner_rows` (``n_rows`` bounds
    the winner count, so no measuring job when it fits the broadcast budget)
    -> ONE exchange placing whole ``touched`` buckets on
    ``min(len(touched), cores)`` partitions (:func:`bucket_partitioned`) ->
    duplicate collapse + HTML->text in one Arrow pass.  bucket = f(url), so
    each url's duplicate deliveries share a partition; the extract+write
    stage runs as one wave with no empty task, and the write needs no
    second exchange."""
    winners = lww_winner_rows(
        batch_df, key, broadcast_keys=n_rows, cleanup=cleanup, unique_order_col="log_offset"
    )
    upserts = winners.filter(F.col("op") != OP_DELETE).drop("op")
    tagged = bucket_partitioned(upserts.withColumn("_bucket", bucket_expr(key, n_buckets)), touched)
    return align_to_schema(_arrow_text(tagged, key, collapse=True), target_schema)


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    epoch_source: str = "cdc",
    salted: bool = False,
    n_salts: int = 16,
    prune_buckets: bool = True,
    keep_applied: list | None = None,
) -> dict:
    """Apply one micro-batch of change events. Returns stats. Idempotent:
    re-delivery of an already-committed batch_id is a no-op.

    ``prune_buckets`` has no effect: the touched-bucket discovery always
    runs, because the tombstone audit and lineage come from it.  The
    parameter stays for callers that still pass it.

    ``salted=True`` splits the merge's argmax in two phases
    (:func:`lww_dedup_salted`) for hot urls; the write then places buckets
    with its own exchange.

    ``keep_applied``: when a list is passed, the applied-upserts frame
    (WITH extracted ``text``) is persisted and appended to it instead of
    being torn down — the caller owns the unpersist.  A derived-index
    maintainer (update_lsh_index) can then consume the rows this batch
    actually applied at O(batch) cost with no table read-back and no second
    HTML->text extraction: the write job fills the cache the applied rows
    are taken from.  Empty when the batch was an epoch no-op (caller falls
    back to a table read for that crash-recovery case)."""
    if batch_id <= table.last_epoch(epoch_source):
        return {"batch_id": batch_id, "skipped": True}

    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - (t0 + sum(phases.values())), 3)

    m = table.manifest()
    key, nb = m["key"], m["n_buckets"]
    # batch_df is deliberately NOT cached: its two passes (the discovery
    # query and the merge) prune to different columns, so columnar
    # re-reads from the source beat materializing full rows on heap
    _caches: list = []
    try:
        _mark("manifest_read")  # time since t0: the manifest open above

        # 1. discovery: which table buckets does this batch touch, how many
        #    rows does it have (an upper bound on its winners, which sizes
        #    the bulk path's winner join without a measuring job), and its
        #    tombstone audit and lineage, from one narrow scan of the batch
        summary = _touched_summary(batch_df, key, nb)
        touched = summary.column("b").to_pylist()
        n_rows = sum(summary.column("n").to_pylist())
        # manifest-level emptiness: a fresh table / bulk first replay has no
        # stored rows and no tombstones, so nothing can beat a batch winner.
        has_current = any(m["buckets"].get(str(b)) for b in touched)
        has_tombs = bool(m["tombstone_files"])
        evolved = reconcile_schema(table.schema(m), pages_schema_for(batch_df.schema))
        _mark("dedup_and_touched")
        merged = None  # the populated-table merge, once planned

        if not has_current and not has_tombs and not salted:
            # FUSED bulk path: winner rows go through one exchange that
            # places whole touched buckets on partitions, with the duplicate
            # collapse and text extraction fused into a single Arrow pass
            # that the write consumes in place.
            new_data = _bulk_upserts(batch_df, key, nb, evolved, _caches, n_rows, touched)
            if keep_applied is not None:
                new_data = new_data.persist(StorageLevel.MEMORY_AND_DISK)
                keep_applied.append(new_data)
            pre_partitioned = True
        else:
            # 2-3. ONE bucket-keyed merge: batch rows (src 0, text extracted
            #    right after the scan) ∪ stored rows and tombstones of the
            #    touched buckets (src 1).  src breaks (warc_ts, log_offset)
            #    ties toward the stored side, so a batch event applies iff it
            #    is strictly newer than the stored row AND the latest
            #    tombstone.
            #    Inputs union by name, missing columns null: the projection
            #    onto ``evolved`` below orders and casts them.
            batch = _arrow_text(batch_df.filter(F.col(key).isNotNull()), key, collapse=False)
            cands = batch.withColumn("_src", F.lit(0))
            if has_current:
                current = table.read_buckets(touched, m)
                cands = cands.unionByName(
                    current.withColumns({"op": F.lit("upsert"), "_src": F.lit(1)}),
                    allowMissingColumns=True,
                )
            if has_tombs:
                # the raw audit files: a re-delivered delete stored twice
                # collapses in the max_by below like any duplicate
                tombs = table.read_tombstones(TOMBSTONE_SCHEMA, distinct=False)
                if len(touched) < nb:
                    tombs = tombs.filter(bucket_expr("url", nb).isin(touched))
                tombs = tombs.selectExpr(f"url AS `{key}`", "deleted_ts AS warc_ts", "log_offset",
                                         f"'{OP_DELETE}' AS op", "1 AS _src")
                cands = cands.unionByName(tombs, allowMissingColumns=True)
            order = ("warc_ts", "log_offset", "_src")
            pre_partitioned = not salted
            if salted:
                merged = lww_dedup_salted(cands, key, order, n_salts=n_salts)
            else:
                # a hash exchange, not bucket_partitioned: HashPartitioning
                # (_bucket) satisfies the aggregate's distribution, so each
                # bucket lands whole in one partition with no second exchange
                cands = cands.withColumn("_bucket", bucket_expr(key, nb)).repartition("_bucket")
                payload = ", ".join(f"`{c}`" for c in cands.columns if c not in (key, "_bucket"))
                winner = F.expr(f"max_by(struct({payload}), struct({', '.join(order)}))")
                merged = cands.groupBy("_bucket", key).agg(winner.alias("w")).select(key, "w.*")
            merged = merged.filter(F.col("op") != OP_DELETE)
            if keep_applied is not None:
                merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
                _caches.append(merged)
            new_data = align_to_schema(merged, evolved)

        # 4. the append-only branches, written once the data write is done
        #    (so the lineage carries the true merge latency) and attached in
        #    the same manifest flip.  Every delete event of the batch goes to
        #    the audit (reference app.py:15-21 appends every delete to
        #    change_log); it stays a distinct set to its readers.
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
            pre_partitioned=pre_partitioned,
            # revalidation parent = the snapshot THIS batch's plan read at
            # its top (bucket pruning, has_current, epochs all came from it)
            parent_version=m["version"],
        )
        if merged is not None and keep_applied is not None:
            # taken from the merge the write just cached: no second extract
            applied = align_to_schema(merged.filter(F.col("_src") == 0), evolved)
            applied = applied.persist(StorageLevel.MEMORY_AND_DISK)
            applied.count()
            keep_applied.append(applied)
        _mark("commit_write")
        # periodic fold (COMPACT_APPENDS_EVERY) in its own atomic commit: a
        # crash between the two commits loses only the fold, never data.
        # The fold is COSMETIC: losing a CAS to a concurrent maintenance job
        # (compact/expire between the data commit above and here) must not
        # kill the streaming query — absorb one conflict with a fresh
        # re-plan, and if the table is racing that hard this trigger just
        # skips; the next scheduled batch folds everything anyway.
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
    finally:
        for _c in _caches:
            try:
                _c.unpersist()
            except Exception:
                pass
