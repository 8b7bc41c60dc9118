"""The micro-batch apply path: touched buckets -> key-only LWW -> payload
fetch -> Arrow extract -> copy-on-write commit.

This is the Spark rebuild of the reference's task chain
``task_find_new_records -> task_read_records -> task_merge_metadata ->
update_storage`` (tasks.py:34-119, app.py:24-74) collapsed into one
DataFrame plan executed per micro-batch inside ``foreachBatch``:

1. **Touched buckets + row count** in one narrow job
   (``groupBy(bucket).count()``): only the table buckets holding the
   batch's urls are read and rewritten (the semantic twin of the
   reference's changed-record short-circuit, tasks.py:52-64), and the row
   count bounds the winners, which sizes the winner joins without a
   measuring job.
2. **Key-only LWW** over batch ∪ stored rows ∪ tombstones of the touched
   buckets: one ``(url, warc_ts, log_offset, src)`` aggregation.  Ties go
   to the stored side, so a batch event applies iff it is strictly newer
   than the stored row (idempotent upsert, app.py:34-39) and than the
   latest tombstone (no resurrection by stale events, app.py:54-67).
3. **Payload fetch** of the winning rows by one ``log_offset`` join.
4. **Duplicate collapse + HTML->text** in one ``mapInArrow`` pass, for
   applied upserts only — never for losers.
5. **Atomic commit** of the rewritten buckets (survivors ∪ upserts) +
   tombstone audit appends + lineage + the commit epoch, in one manifest
   flip (exactly-once under foreachBatch replays).

A fresh table (no stored rows, no tombstones) skips step 2's rivals: the
fused bulk path takes the batch's own LWW winners straight to step 4.

Negative results, kept so nobody re-adds them: persisting the applied
rows fixed the Python stage at ``spark.sql.shuffle.partitions`` tasks
(AQE cannot re-coalesce a cached relation's output), each paying a Python
task's fixed cost however few rows it held; the measure-and-cache
``count()`` of the winner keys cost 4 Spark jobs per streaming batch.
Together with the separate stale-filter join, tombstone-guard join and
pandas-UDF extraction they made a ~1 k-event micro-batch into a populated
table cost 23 Spark jobs; this path runs 15, and its median batch wall is
~40 % lower (cdcbench ``incr_upsert``, 4 vCPUs).  The bulk path once
hashed its 8 bucket ids into 4 × cores = 16 partitions: 9 of the 16
Python tasks were empty and two buckets collided in one partition, so the
extract+write stage ran four waves where one suffices.  Whole buckets now
land on ``min(buckets, cores)`` partitions by id (``bucket_partitioned``).

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .evolve import align_to_schema, reconcile_schema
from .lake.table import CommitConflictError, LakeTable, bucket_expr, bucket_partitioned
from .operators.cdc import tombstone_guard  # noqa: F401  (re-exported: tracers wrap it by name)
from .operators.lww import (
    bounded_broadcast,
    lww_dedup,
    lww_dedup_salted,
    lww_dedup_semi,  # noqa: F401  (re-exported: tracers wrap it by name)
    lww_winner_rows,
)
from .schema import LINEAGE_SCHEMA, OP_DELETE, TOMBSTONE_SCHEMA


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


def _collapse_and_extract(
    winners: DataFrame,
    key: str,
    n_buckets: int,
    target_schema: T.StructType,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Winner rows -> ONE bucket-keyed payload shuffle -> in-partition
    duplicate collapse + HTML->text in a single Arrow pass.

    bucket = f(url), so one shuffle keyed by bucket already co-locates every
    url's duplicate deliveries in one partition — the collapse is a
    vectorized in-partition ``drop_duplicates`` fused into the same
    ``mapInArrow`` pass that extracts text.  Correct only when exact
    duplicates are the ONLY multiplicity left, i.e. for rows fetched by
    their winning ``log_offset`` (offsets identify events, so co-keyed rows
    are byte-identical deliveries — keeping any one is LWW).

    ``buckets`` (the touched bucket ids) places whole buckets on
    ``min(len(buckets), cores)`` partitions via :func:`bucket_partitioned`:
    the bulk path's extract+write stage then runs as one wave with no empty
    task, and its output can be written without a second exchange.
    ``None`` hashes on the bucket and leaves the count to AQE, which
    coalesces a micro-batch's ~100 winners into ONE Python task: one task
    suffices for ~100 winners.  Each task's fixed set-up cost is a few tens
    of ms since the Arrow pass drops the worker's zip importers
    (:func:`.session.forget_zip_importers`); before, the per-task zip
    directory re-reads made it ~250 ms.
    """
    upserts = winners.filter(F.col("op") != OP_DELETE).drop("op")
    tagged = upserts.withColumn("_bucket", bucket_expr(key, n_buckets))
    tagged = (
        bucket_partitioned(tagged, buckets)
        if buckets is not None
        else tagged.repartition(F.col("_bucket"))
    )

    out_fields = _text_after_html_fields(tagged.schema.fields, "_bucket")
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def _collapse_and_extract_arrow(it: "Iterator") -> "Iterator":
        # mapInArrow, not mapInPandas: the row payload (html binary, text)
        # stays in Arrow buffers end-to-end — a pandas pass materialized
        # every html as a Python bytes object and every text as a Python
        # str TWICE (in and out), the dominant python-side cost of this
        # stage.  Only the ~30-byte urls are materialized, for the
        # cross-batch duplicate collapse.
        import pyarrow as pa

        from .functions.html import extract_text_arrow
        from .session import forget_zip_importers

        forget_zip_importers()  # the next task's worker set-up stays cheap
        seen: set = set()  # urls of THIS partition only (one bucket group)
        for batch in it:
            urls = batch.column(batch.schema.get_field_index(key)).to_pylist()
            mask = []
            for u in urls:
                if u in seen:
                    mask.append(False)
                else:
                    seen.add(u)
                    mask.append(True)
            fresh = batch.filter(pa.array(mask, type=pa.bool_()))
            if fresh.num_rows == 0:
                continue
            cols = {name: fresh.column(fresh.schema.get_field_index(name))
                    for name in fresh.schema.names}
            cols["text"] = extract_text_arrow(cols["html"])
            yield pa.RecordBatch.from_arrays(
                [cols[name] for name in out_cols], names=out_cols
            )

    final = tagged.mapInArrow(_collapse_and_extract_arrow, out_schema)
    return align_to_schema(final, target_schema)


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
    then :func:`_collapse_and_extract` placed on the ``touched`` buckets."""
    winners = lww_winner_rows(
        batch_df, key, broadcast_keys=n_rows, cleanup=cleanup, unique_order_col="log_offset"
    )
    return _collapse_and_extract(winners, key, n_buckets, target_schema, touched)


def apply_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: int,
    epoch_source: str = "cdc",
    salted: bool = False,
    n_salts: int = 16,
    prune_buckets: bool = True,
    compact_appends_every: int = 32,
    decision_col: str | None = None,
    keep_applied: list | None = None,
) -> dict:
    """Apply one micro-batch of change events. Returns stats. Idempotent:
    re-delivery of an already-committed batch_id is a no-op.

    ``salted=True`` splits the key-only argmax in two phases
    (:func:`lww_dedup_salted`) for hot urls.

    ``decision_col`` names a pre-resolution column (the stateful in-stream
    LWW operator's ``decision``): only rows marked ``'apply'`` are applied,
    and — because the state store already guarantees each such row is
    strictly newer than everything previously seen for its url — the
    stored keys and tombstones stay out of the LWW union (the operator's
    whole point: per-batch work stays proportional to the batch, not the
    table).  The tombstone audit still sees EVERY delete delivery, resolved
    or not (reference app.py:15-21 appends every delete).

    ``keep_applied``: when a list is passed, the applied-upserts frame
    (WITH extracted ``text``) is persisted and appended to it instead of
    being torn down — the caller owns the unpersist.  A derived-index
    maintainer (update_lsh_index) can then consume the rows this batch
    actually applied at O(batch) cost with no table read-back and no second
    HTML->text extraction: the write job materializes the cache, the index
    reads it.  Empty when the batch was an epoch no-op (caller falls back
    to a table read for that crash-recovery case)."""
    if batch_id <= table.last_epoch(epoch_source):
        return {"batch_id": batch_id, "skipped": True}

    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str) -> None:
        now = time.time()
        phases[name] = round(now - (t0 + sum(phases.values())), 3)

    m = table.manifest()
    key, nb = m["key"], m["n_buckets"]
    # batch_df is deliberately NOT cached: its passes (touched discovery,
    # lineage stats, LWW keys, payload fetch, tombstone audit) each prune to
    # a few columns, so columnar re-reads from the source beat materializing
    # full rows on heap
    _caches: list = []
    try:
        _mark("manifest_read")  # time since t0: the manifest open above

        # pre-resolved mode: only 'apply' rows flow to the merge; the raw
        # batch is kept for the tombstone audit + lineage stats
        resolved = (
            batch_df.filter(F.col(decision_col) == "apply").drop(decision_col)
            if decision_col
            else batch_df
        )

        # 1. bucket pruning: which table buckets does this batch touch, and
        #    how many rows does it have (an upper bound on its winners, which
        #    sizes the winner joins below without a measuring job)?  A narrow
        #    url-column scan of the RAW batch.  A bulk replay touches every
        #    bucket anyway — prune_buckets=False skips the job.
        if prune_buckets:
            counts = resolved.groupBy(bucket_expr(key, nb).alias("b")).count().collect()
            touched = [r[0] for r in counts]
            n_rows = sum(r[1] for r in counts)
        else:
            touched, n_rows = list(range(nb)), None
        # manifest-level emptiness: a fresh table / bulk first replay has no
        # stored rows and no tombstones, so nothing can beat a batch winner.
        # With pre-resolved rows the state store already proved
        # strictly-newer, so stored keys and tombstones never compete.
        has_current = any(m["buckets"].get(str(b)) for b in touched)
        has_tombs = bool(m["tombstone_files"])
        rivals_tombs = has_tombs and not decision_col
        evolved = reconcile_schema(table.schema(m), pages_schema_for(resolved.schema))
        _mark("dedup_and_touched")

        if not has_current and not rivals_tombs and not salted:
            # FUSED bulk path: winner rows go through one exchange that
            # places whole touched buckets on partitions, with the duplicate
            # collapse and text extraction fused into a single Arrow pass
            # that the write consumes in place.  Passed as a thunk: any
            # measuring job inside it then runs in overwrite_buckets' pool
            # thread, overlapping the tombstone/lineage append jobs.
            def new_data() -> DataFrame:
                df = _bulk_upserts(resolved, key, nb, evolved, _caches, n_rows, touched)
                if keep_applied is not None:
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                    keep_applied.append(df)
                return df

            pre_partitioned = True
        else:
            pre_partitioned = False
            # 2. key-only LWW over batch (src 0) ∪ stored rows (src 1) ∪
            #    tombstones (src 1) of the touched buckets: ONE aggregation
            #    decides everything.  src breaks (warc_ts, log_offset) ties
            #    toward the rivals, so a batch event applies iff it is
            #    strictly newer than the stored row AND the latest tombstone
            #    (idempotent upsert, app.py:34-39; no resurrection by stale
            #    events, app.py:54-67).
            cols = [key, "warc_ts", "log_offset"]
            cands = resolved.select(*cols, F.lit(0).alias("_src"))
            if has_current:
                current = align_to_schema(table.read_buckets(touched, m), evolved)
            if has_current and not decision_col:
                cands = cands.unionByName(current.select(*cols, F.lit(1).alias("_src")))
            if rivals_tombs:
                tombs = table.read_tombstones(TOMBSTONE_SCHEMA)
                if prune_buckets and len(touched) < nb:
                    tombs = tombs.filter(bucket_expr("url", nb).isin(touched))
                cands = cands.unionByName(tombs.select(
                    F.col("url").alias(key), F.col("deleted_ts").alias("warc_ts"),
                    "log_offset", F.lit(1).alias("_src"),
                ))
            # the explicit not-null key filter matches the one the survivor
            # anti-join below infers, so both consumers of the aggregation
            # plan the same exchange and Spark reuses it (one LWW shuffle)
            cands = cands.filter(F.col(key).isNotNull())
            order = ("warc_ts", "log_offset", "_src")
            won = (
                lww_dedup_salted(cands, key, order, n_salts=n_salts)
                if salted
                else lww_dedup(cands, key, order)
            )
            # the batch's applied (url, offset) pairs: at most n_rows
            won = bounded_broadcast(
                won.filter(F.col("_src") == 0).select(key, "log_offset"), n_rows, cleanup=_caches
            )
            # 3. payload fetch by winning offset, then collapse + extract.
            #    No bucket placement here: one task suffices for ~100
            #    winners, so AQE coalesces the hash exchange into ONE
            #    Python task; the write below places survivors ∪ upserts
            #    by bucket.
            winners = resolved.join(won.select("log_offset"), "log_offset")
            upserts = _collapse_and_extract(winners, key, nb, evolved)
            if keep_applied is not None:
                upserts = upserts.persist(StorageLevel.MEMORY_AND_DISK)
                keep_applied.append(upserts)

            # 4. copy-on-write: survivors of touched buckets + applied upserts
            if has_current:
                new_data = current.join(won.select(key), key, "left_anti").unionByName(upserts)
            else:
                new_data = upserts

        # 5. tombstone audit: every delete event in the batch (reference
        #    app.py:15-21 appends every delete to change_log).  Anti-join
        #    against already-stored tombstones so a duplicate delivery that
        #    lands in a *different* micro-batch than its original does not
        #    append a second (url, ts, offset) row — the audit log stays a
        #    distinct set, matching replay_oracle's semantics exactly.
        #    Passed as a THUNK: its driver-side plan construction runs in
        #    overwrite_buckets' pool thread, overlapped with the main write.
        def _tomb_appends() -> DataFrame:
            t = (
                batch_df.filter(F.col("op") == OP_DELETE)
                .select(
                    F.col(key).alias("url"),
                    F.col("warc_ts").alias("deleted_ts"),
                    F.lit("deleted").alias("key"),
                    F.col("log_offset"),
                )
                .distinct()
            )
            if has_tombs:
                t = t.join(
                    table.read_tombstones(TOMBSTONE_SCHEMA).select(
                        "url", "deleted_ts", "log_offset"
                    ),
                    ["url", "deleted_ts", "log_offset"],
                    "left_anti",
                )
            return t

        # lineage: per-source-partition offset range + row counts
        # (north_rule).  A pure transformation — no driver collect; plan
        # built in the pool thread, write runs as a concurrent Spark job
        # alongside the data write inside overwrite_buckets.  The reported
        # merge latency is captured HERE (plan time), not at thunk call.
        latency_ms = (time.time() - t0) * 1000.0

        def _lineage_df() -> DataFrame:
            ldf = (
                batch_df.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.min("log_offset").alias("offset_start"),
                    F.max("log_offset").alias("offset_end"),
                    F.count(F.lit(1)).alias("rows_applied"),
                )
                .select(
                    F.lit(int(batch_id)).alias("batch_id"),
                    "partition_id",
                    "offset_start",
                    "offset_end",
                    "rows_applied",
                    F.lit(float(latency_ms)).alias("merge_latency_ms"),
                    F.lit(int(batch_id)).alias("commit_epoch"),
                )
            )
            return align_to_schema(ldf, LINEAGE_SCHEMA)

        _mark("plan_build")
        version = table.overwrite_buckets(
            new_data,
            touched,
            epoch_source=epoch_source,
            epoch=batch_id,
            new_schema=evolved,
            tombstone_appends=_tomb_appends,
            lineage_appends=_lineage_df,
            pre_partitioned=pre_partitioned,
            # revalidation parent = the snapshot THIS batch's plan read at
            # its top (bucket pruning, has_current, epochs all came from it)
            parent_version=m["version"],
        )
        _mark("commit_write")
        # periodic fold of the append-only tombstone/lineage branches keeps
        # per-batch guard reads and the manifest O(1) over the table's
        # lifetime (its own atomic commit; a crash between the two commits
        # loses only the fold, never data).  The fold is COSMETIC: losing a
        # CAS to a concurrent maintenance job (compact/expire between the
        # data commit above and here) must not kill the streaming query —
        # absorb one conflict with a fresh re-plan, and if the table is
        # racing that hard this trigger just skips; the next scheduled
        # batch folds everything anyway.
        if compact_appends_every and batch_id % compact_appends_every == compact_appends_every - 1:
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
