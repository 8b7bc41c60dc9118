"""Incremental MinHash-LSH near-dup detection over the CDC stream.

Batch-mode near-dup detection (:mod:`.dedup`) re-shingles and re-bands the
WHOLE corpus; at 10^10 events that is a full-table job per refresh — a
non-starter for a pipeline whose corpus changes by one micro-batch at a
time.  This module maintains the LSH band index as a **bucketed lake side
table** (key = the band-hash string) so each micro-batch:

1. signs and bands its own LWW winners (:func:`batch_winner_texts`, derived
   from the raw batch alone — the pages table is never read);
2. fast-appends their band rows (:meth:`LakeTable.append_buckets` — O(batch)
   write, no bucket rewrite) under the same per-epoch exactly-once guard as
   the main table, so a foreachBatch re-delivery cannot double-index;
3. leaves validity to the read (:func:`lsh_index_pairs`).

Per-batch I/O is proportional to the batch: the batch in, its band rows
out.  The only index read is the lake's fold (:meth:`LakeTable.fold_due`)
of a bucket whose file group passed ``COMPACT_APPENDS_EVERY`` files, once
per that many appends.

Staleness is resolved the CDC-native way: the index is APPEND-ONLY and
versioned by (url, warc_ts, log_offset) — exactly the main table's LWW
identity — and a band row is *current* iff that triple still matches the
pages table.  Updates and deletes therefore invalidate old band rows with
zero index writes (the rows just stop matching); a batch winner the table
rejected (older than the stored row, or blocked by a tombstone) is dead on
arrival for the same reason; a periodic :func:`compact_lsh_index`
garbage-collects both.  The invariant, asserted in
tests/test_incremental_dedup.py: after any batch, replay, cutover or crash,

    lsh_index_pairs(index, pages)  ==  batch-mode lsh_candidate_pairs(pages)

row for row — the incremental index never diverges from what a full
recompute would say.

The reference dedups record lists in one process per record
(solr_adapter.py:592-619); this is the web-scale analog the north_star's
training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.html import html_to_text
from ..lake.table import LakeTable
from ..schema import OP_DELETE
from .dedup import _banded_buckets, minhash_signatures, word_shingles
from .lww import lww_dedup

#: index row = one (band bucket, url version); the (warc_ts, log_offset)
#: pair is the LWW identity the validity join matches against the pages
#: table — never interpreted, only compared.
LSH_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("log_offset", T.LongType(), True),
    ]
)

EPOCH_SOURCE = "lsh_index"

#: minhashes per signature and rows per band: batch mode's defaults
#: (:func:`~.dedup.lsh_candidate_pairs`), which the index must equal
K = 8
BAND_SIZE = 2


def create_lsh_index(
    spark, root: str, n_buckets: int = 64
) -> LakeTable:
    """A fresh (or existing — create is idempotent) band-index side table.

    ``n_buckets`` buckets the md5 band-hash space; size it like the main
    table's url buckets (enough that one bucket's rows fit an executor —
    band hashes are uniform, so no skew)."""
    return LakeTable.create(
        spark, root, LSH_INDEX_SCHEMA, key="bucket", n_buckets=n_buckets
    )


def batch_winner_texts(batch_df: DataFrame) -> DataFrame:
    """(url, warc_ts, log_offset, text) for the batch's LWW-winning upserts.

    Derived from the raw batch alone, without reading the table: winners
    the apply rejects still get band rows, which the validity rule drops
    at read.  Extraction runs the same Arrow kernel as the apply's bucket
    writer, so a winner the apply stores signs identically either way."""
    winners = lww_dedup(batch_df, "url")
    return (
        winners.filter(F.col("op") != OP_DELETE)
        .select(
            "url",
            "warc_ts",
            "log_offset",
            html_to_text(F.col("html")).alias("text"),
        )
    )


def band_rows(upserts: DataFrame) -> DataFrame:
    """LSH_INDEX_SCHEMA rows for a batch of (url, warc_ts, log_offset, text).

    One shingle->sign aggregation keyed on url; the (warc_ts, log_offset)
    identity rides back via an in-batch join (both sides ∝ batch, AQE
    broadcasts the signature side for small batches)."""
    sigs = minhash_signatures(word_shingles(upserts, id_col="url"), id_col="url", k=K)
    banded = _banded_buckets(sigs, "url", K, BAND_SIZE)
    meta = upserts.select("url", "warc_ts", "log_offset")
    return banded.join(meta, "url").select("bucket", "url", "warc_ts", "log_offset")


def update_lsh_index(index: LakeTable, upserts: DataFrame, batch_id: int) -> None:
    """Fast-append the band rows of one micro-batch's upserts — (url,
    warc_ts, log_offset, text) rows, deletes excluded — under the index's
    epoch guard, then fold what the lake's fold rule finds due
    (:meth:`LakeTable.fold_due`; each append adds a file to every bucket's
    group it touches).  A ``batch_id`` at or below the committed epoch is
    a re-delivery and writes nothing.

    Nothing is returned: the candidate pairs at any point are
    :func:`lsh_index_pairs`.  Per-batch work is the batch's own shingle,
    sign and band pass plus an O(batch) write.  The pages table is never
    read, and the index only by a due fold."""
    index.append_buckets(
        band_rows(upserts),
        epoch_source=EPOCH_SOURCE,
        epoch=batch_id,
        retries=1,  # appends commute; absorb one lost CAS
    )
    index.fold_due()


def lsh_index_pairs(
    index: LakeTable, pages_current: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """ALL currently-valid near-dup candidate pairs from the index — the
    audit/cutover read that must equal batch-mode
    :func:`~.dedup.lsh_candidate_pairs` over the live pages table.

    Reads the whole index, keeps only rows whose (url, warc_ts, log_offset)
    still matches the pages table — superseded versions, tombstoned urls
    and batch winners the table rejected drop out here — and self-joins on
    the band bucket.  Replay duplicates collapse in the distinct.
    ``bucket_cap`` is batch mode's boilerplate hygiene, applied over VALID
    rows (a mega-bucket is skipped by both modes at the same membership
    count)."""
    valid = index.read().join(
        pages_current.select("url", "warc_ts", "log_offset"),
        ["url", "warc_ts", "log_offset"],
        "left_semi",
    )
    if bucket_cap is not None:
        from pyspark.sql import Window

        w_count = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        valid = (
            valid.select("bucket", "url").distinct()
            .withColumn("_bc", w_count)
            .filter(F.col("_bc") <= bucket_cap)
            .drop("_bc")
        )
    a = valid.select(F.col("bucket"), F.col("url").alias("id_a"))
    b = valid.select(F.col("bucket"), F.col("url").alias("id_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def compact_lsh_index(index: LakeTable, pages_current: DataFrame) -> int:
    """Garbage-collect superseded/tombstoned band rows: rewrite every bucket
    keeping only rows valid against the pages table (plus a replay-duplicate
    collapse).  The index's analog of the main table's copy-on-write — run
    it on the compaction schedule, not per batch.  Like
    :meth:`LakeTable.compact` beside a live streaming writer, it absorbs
    one lost CAS."""

    def attempt() -> int:
        m = index.manifest()
        ids = [int(b) for b in m["buckets"]]
        live = (
            index.read_buckets(ids, m)
            .join(
                pages_current.select("url", "warc_ts", "log_offset"),
                ["url", "warc_ts", "log_offset"],
                "left_semi",
            )
            .distinct()
        )
        return index.overwrite_buckets(
            live, ids, new_schema=index.schema(m), parent_version=m["version"]
        )

    return index._retrying(attempt, 1)
