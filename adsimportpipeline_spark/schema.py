"""Canonical StructTypes for the CDC engine.

Reference data model (SURVEY.md §1): the reference keys records on ``bibcode``
(models.py:41), detects change via ``json_fingerprint`` (tasks.py:56), stores
canonical rows in a ``records`` table (models.py:38-56) and delete tombstones
in ``change_log`` (models.py:87-102).  Our engine keys on ``url`` over
Common-Crawl-style pages per BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"

#: sentinel fingerprint that forces an update regardless of the stored value
#: (reference: run.py:83-86 — fingerprint ``'ignore'`` bypasses comparison)
FORCE_UPDATE_FINGERPRINT = "ignore"

#: change event envelope — the "binlog row".  Analog of the reference feed
#: line ``bibcode \t json_fingerprint`` (run.py:34-62) plus the multi-origin
#: payload blocks (schema.json).
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("log_offset", T.LongType(), False),
        T.StructField("op", T.StringType(), False),  # insert|update|delete
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source_origin", T.StringType(), True),
        T.StructField("fingerprint", T.StringType(), True),
    ]
)

#: canonical lake table — analog of the reference ``records`` table
#: (models.py:38-56: id, bibcode, fingerprint, origin, created, updated,
#: processed, direct_data...).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("log_offset", T.LongType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source_origin", T.StringType(), True),
        T.StructField("fingerprint", T.StringType(), True),
    ]
)

#: delete audit log — analog of the reference ``change_log`` rows with
#: ``key='deleted', oldvalue=bibcode`` (app.py:20, models.py:87-102).
TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("deleted_ts", T.TimestampType(), False),
        T.StructField("key", T.StringType(), False),  # always 'deleted'
        T.StructField("log_offset", T.LongType(), False),
    ]
)

#: per-partition replay metrics (north_rule: "per-partition lineage records
#: (source offset range, rows applied, merge latency) emitted as metrics").
#: One row per (batch, touched table bucket): ``partition_id`` is the bucket
#: id, the offsets are the bucket's min/max ``log_offset`` in the batch, and
#: ``rows_applied`` counts the events the bucket RECEIVED in the batch
#: (stale losers and duplicate deliveries included, not only the winners).
#: ``merge_latency_ms`` runs from the start of ``apply_batch`` to the end
#: of its data write, the same for every row of a batch.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("offset_start", T.LongType(), True),
        T.StructField("offset_end", T.LongType(), True),
        T.StructField("rows_applied", T.LongType(), False),
        T.StructField("merge_latency_ms", T.DoubleType(), False),
        T.StructField("commit_epoch", T.LongType(), False),
    ]
)
