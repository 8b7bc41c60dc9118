"""Incremental MinHash-LSH near-dup detection over the CDC stream.

Batch-mode near-dup detection (:mod:`.dedup`) re-shingles and re-bands the
WHOLE corpus; at 10^10 events that is a full-table job per refresh — a
non-starter for a pipeline whose corpus changes by one micro-batch at a
time.  This module maintains the LSH band index as a **bucketed lake side
table** (key = the band-hash string) so each micro-batch:

1. signs and bands only ITS OWN applied upserts (work ∝ batch);
2. discovers cross-batch candidates with a **bucket-pruned** read of the
   index — only the lake buckets its band hashes land in are opened, never
   the whole index (the same pruning the main table's apply path uses on
   urls, here keyed on band hashes);
3. fast-appends its band rows (:meth:`LakeTable.append_buckets` — O(batch)
   write, no bucket rewrite) under the same per-epoch exactly-once guard as
   the main table, so a foreachBatch re-delivery cannot double-index.

Staleness is resolved the CDC-native way: the index is APPEND-ONLY and
versioned by (url, warc_ts, log_offset) — exactly the main table's LWW
identity — and a band row is *current* iff that triple still matches the
pages table.  Updates and deletes therefore invalidate old band rows with
zero index writes (the rows just stop matching), and a periodic
:func:`compact_lsh_index` garbage-collects them.  The invariant, asserted
in tests/test_incremental_dedup.py: after any replay, cutover or crash,

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

from ..apply import COMPACT_APPENDS_EVERY
from ..functions.html import html_to_text
from ..lake.table import CommitConflictError, LakeTable, bucket_expr
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


def batch_winner_texts(batch_df: DataFrame, key: str = "url") -> DataFrame:
    """(url, warc_ts, log_offset, text) for the batch's LWW-winning upserts.

    Standalone helper for callers that run the index beside — not inside —
    the main apply: it derives the winners from the raw batch alone, without
    reading the table (the index tests use it this way).  Extraction uses
    the same vectorized UDF as the apply, so a winner the apply stores
    signs identically either way."""
    winners = lww_dedup(batch_df, key)
    return (
        winners.filter(F.col("op") != OP_DELETE)
        .select(
            F.col(key),
            F.col("warc_ts"),
            F.col("log_offset"),
            html_to_text(F.col("html")).alias("text"),
        )
    )


def applied_winner_texts(
    table: LakeTable, batch_df: DataFrame, key: str = "url"
) -> DataFrame:
    """(url, warc_ts, log_offset, text) of the rows a just-committed batch
    actually LEFT in the pages table — read back from the table instead of
    re-deriving them from the raw batch.

    :func:`batch_winner_texts` re-runs LWW dedup and the vectorized
    HTML->text extraction over the whole batch; extraction is the dominant
    python-worker cost of the apply path, so maintaining the index that way
    roughly doubles per-batch CPU.  The committed parquet already holds the
    extracted text: a bucket-pruned read of the batch's touched buckets,
    column-pruned to four narrow columns (html is never decoded), semi-
    joined on the batch's (url, warc_ts, log_offset) triples, returns
    exactly the applied rows.  Rows the table rejected (stale vs stored,
    tombstoned, LWW losers) are absent by construction — strictly better
    than indexing them and letting the validity rule drop them later."""
    m = table.manifest()
    nb = m["n_buckets"]
    touched = [
        r[0]
        for r in batch_df.select(bucket_expr(key, nb).alias("b")).distinct().collect()
    ]
    pages = table.read_buckets(touched, m).select(
        key, "warc_ts", "log_offset", "text"
    )
    triples = batch_df.select(key, "warc_ts", "log_offset").distinct()
    return pages.join(triples, [key, "warc_ts", "log_offset"], "left_semi")


def band_rows(
    upserts: DataFrame,
    key: str = "url",
    text_col: str = "text",
    k: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH_INDEX_SCHEMA rows for a batch of (key, warc_ts, log_offset, text).

    One shingle->sign aggregation keyed on ``key``; the (warc_ts,
    log_offset) identity rides back via an in-batch join (both sides ∝
    batch, AQE broadcasts the signature side for small batches)."""
    sigs = minhash_signatures(
        word_shingles(upserts, id_col=key, text_col=text_col), id_col=key, k=k
    )
    banded = _banded_buckets(sigs, key, k, band_size)
    meta = upserts.select(key, "warc_ts", "log_offset")
    return banded.join(meta, key).select(
        F.col("bucket"), F.col(key).alias("url"), "warc_ts", "log_offset"
    )


def update_lsh_index(
    index: LakeTable,
    upserts: DataFrame,
    batch_id: int,
    pages_current: DataFrame | None = None,
    key: str = "url",
    text_col: str = "text",
    k: int = 8,
    band_size: int = 2,
    cleanup: list | None = None,
) -> DataFrame | None:
    """Index one micro-batch's applied upserts; return the NEW near-dup
    candidate pairs it creates (within-batch ∪ batch-vs-stored), or ``None``
    if ``batch_id`` was already committed (idempotent re-delivery).

    ``upserts`` — (key, warc_ts, log_offset, text) rows as APPLIED to the
    pages table this batch (post-LWW, post-extraction; deletes excluded).
    ``pages_current`` — narrow (url, warc_ts, log_offset) projection of the
    pages table AFTER this batch's commit; when given, stored-side partners
    that were superseded or tombstoned (by this batch or any earlier one)
    are filtered out of the returned pairs.  Pass ``None`` to skip the
    validity join and accept possibly-stale partners (audit mode).

    Scale shape: everything is ∝ batch — the only index I/O is the
    bucket-pruned read of the lake buckets the batch's band hashes touch
    plus the O(batch) fast-append; the pages validity join sees only
    candidate rows.  Once every ``COMPACT_APPENDS_EVERY`` appends a touched
    bucket's file group is compacted, which keeps that read's file count
    bounded.  The candidate plan is bound to the PRE-append snapshot
    (immutable files, which compaction does not delete), so the returned
    DataFrame is safe to evaluate after the append commits."""
    if batch_id <= index.last_epoch(EPOCH_SOURCE):
        return None

    m = index.manifest()
    nb = m["n_buckets"]
    rows = band_rows(upserts, key, text_col, k, band_size)
    # two consumers (pair join + append) of a shingle+sign aggregation:
    # worth one in-memory materialization of these narrow rows
    rows = rows.persist()
    try:
        touched = [
            r[0]
            for r in rows.select(bucket_expr("bucket", nb).alias("b")).distinct().collect()
        ]
        stored = index.read_buckets(touched, m)
        if pages_current is not None:
            stored = stored.join(
                pages_current.select(
                    F.col(key).alias("url"), "warc_ts", "log_offset"
                ),
                ["url", "warc_ts", "log_offset"],
                "left_semi",
            )

        a = rows.select(F.col("bucket"), F.col("url").alias("id_a"))
        within = (
            a.join(
                rows.select(F.col("bucket"), F.col("url").alias("id_b")),
                "bucket",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cross = (
            rows.select(F.col("bucket"), F.col("url").alias("u_new"))
            .join(stored.select(F.col("bucket"), F.col("url").alias("u_old")), "bucket")
            .filter(F.col("u_new") != F.col("u_old"))
            .select(
                F.least("u_new", "u_old").alias("id_a"),
                F.greatest("u_new", "u_old").alias("id_b"),
            )
        )
        pairs = within.unionByName(cross).distinct()

        index.append_buckets(
            rows.select("bucket", "url", "warc_ts", "log_offset"),
            epoch_source=EPOCH_SOURCE,
            epoch=batch_id,
            retries=1,  # appends commute; absorb one lost CAS
        )
        _fold_index_files(index, touched)
        return pairs
    finally:
        # the persist serves the in-function consumers (touched-bucket
        # collect + append).  The returned ``pairs`` plan is LAZY: once
        # unpersisted, evaluating it later recomputes the shingle/sign/band
        # pipeline (results identical, work doubled).  Callers that consume
        # the pairs pass a ``cleanup`` list and unpersist after evaluation
        # (the caller-owned pattern of dedup.lsh_candidate_pairs); callers
        # that only maintain the index (the replay runners) pass None and
        # the cache is dropped here.
        if cleanup is not None:
            cleanup.append(rows)
        else:
            rows.unpersist(blocking=False)


def _fold_index_files(index: LakeTable, touched: list[int]) -> None:
    """Compact each of ``touched``'s index buckets whose file group has
    grown past ``COMPACT_APPENDS_EVERY`` files.  Every batch fast-appends one
    file per bucket it touches, so without the fold the next batch's
    bucket-pruned read opens one more file per bucket each time.  Cosmetic
    like :meth:`LakeTable.compact_appends`: a lost CAS just skips it."""
    groups = index.manifest()["buckets"]
    over = [b for b in touched if len(groups.get(str(b), [])) > COMPACT_APPENDS_EVERY]
    if over:
        try:
            index.compact(bucket_ids=over, retries=1)
        except CommitConflictError:
            pass


def lsh_index_pairs(
    index: LakeTable,
    pages_current: DataFrame,
    key: str = "url",
    bucket_cap: int | None = None,
) -> DataFrame:
    """ALL currently-valid near-dup candidate pairs from the index — the
    audit/cutover read that must equal batch-mode
    :func:`~.dedup.lsh_candidate_pairs` over the live pages table.

    Reads the whole index (this is the full-answer query; per-batch
    discovery is :func:`update_lsh_index`), keeps only rows whose
    (url, warc_ts, log_offset) still matches the pages table — superseded
    versions and tombstoned urls drop out here — and self-joins on the band
    bucket.  Replay duplicates collapse in the distinct.  ``bucket_cap``
    is batch mode's boilerplate hygiene, applied over VALID rows (a
    mega-bucket is skipped by both modes at the same membership count)."""
    valid = index.read().join(
        pages_current.select(F.col(key).alias("url"), "warc_ts", "log_offset"),
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


def compact_lsh_index(
    index: LakeTable,
    pages_current: DataFrame,
    key: str = "url",
    retries: int = 1,
) -> int:
    """Garbage-collect superseded/tombstoned band rows: rewrite every bucket
    keeping only rows valid against the pages table (plus a replay-duplicate
    collapse).  The index's analog of the main table's copy-on-write — run
    it on the compaction schedule, not per batch.  ``retries`` follows
    :meth:`LakeTable.compact`'s contract against a live streaming writer."""

    def attempt() -> int:
        m = index.manifest()
        ids = [int(b) for b in m["buckets"]]
        live = (
            index.read_buckets(ids, m)
            .join(
                pages_current.select(F.col(key).alias("url"), "warc_ts", "log_offset"),
                ["url", "warc_ts", "log_offset"],
                "left_semi",
            )
            .distinct()
        )
        return index.overwrite_buckets(
            live, ids, new_schema=index.schema(m), parent_version=m["version"]
        )

    return index._retrying(attempt, retries)
