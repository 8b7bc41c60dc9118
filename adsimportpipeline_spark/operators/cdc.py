"""CDC relational operators: change detection, new-record, orphan, tombstone
guard — the reference's join/filter surface (SURVEY.md §2.2/2.3/2.6).

All are plain DataFrame joins so Catalyst handles pushdown/broadcast; the
small side (micro-batch keys, tombstone max per url) is broadcast explicitly
where we know it is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import FORCE_UPDATE_FINGERPRINT


def changed_records(events: DataFrame, stored: DataFrame, key: str = "url") -> DataFrame:
    """Keep events whose fingerprint differs from the stored row's, or that
    carry the force-update sentinel, or that are new.

    Reference: task_find_new_records diff (tasks.py:52-64) + 'ignore'
    sentinel (run.py:83-86).
    """
    s = stored.select(F.col(key), F.col("fingerprint").alias("_stored_fp"))
    j = events.join(s, key, "left")
    keep = (
        F.col("_stored_fp").isNull()
        | (F.col("fingerprint") != F.col("_stored_fp"))
        | (F.col("fingerprint") == FORCE_UPDATE_FINGERPRINT)
    )
    return j.filter(keep).drop("_stored_fp")


def new_records(events: DataFrame, stored: DataFrame, key: str = "url") -> DataFrame:
    """Events for keys absent from the store (reference tasks.py:66-73)."""
    return events.join(stored.select(key), key, "left_anti")


def orphaned_records(
    stored: DataFrame, feed: DataFrame, key: str = "url"
) -> DataFrame:
    """Stored keys absent from the canonical feed -> deletion candidates
    (reference compute_orphaned, app.py:106-117)."""
    return stored.join(feed.select(key), key, "left_anti")


def guard_deletion_cap(orphans: DataFrame, max_deletions: int = 2000) -> int:
    """Driver-side safety valve before a destructive merge (run.py:65-72,
    185-188).  Returns the count; raises if above the cap."""
    n = orphans.count()
    if n > max_deletions:
        raise RuntimeError(
            f"refusing to delete {n} rows (> max_deletions={max_deletions})"
        )
    return n


def tombstone_guard(
    incoming: DataFrame,
    tombstones: DataFrame,
    key: str = "url",
    order_cols: tuple[str, str] = ("warc_ts", "log_offset"),
) -> DataFrame:
    """Drop incoming rows at or before the latest tombstone for their key.

    Resurrection prevention (reference app.py:54-67: a direct write is
    rolled back if a delete tombstone exists).  In the LWW world a *newer*
    event legitimately resurrects the url; only stale events are blocked —
    this is what makes batched application equal to a global LWW over the
    whole log.

    Scale note: the tombstone table grows without bound over the table's
    lifetime, so the join strategy is deliberately left to Catalyst/AQE —
    it broadcasts only when the aggregated per-key max is actually small.
    Callers that can bound the tombstone side (e.g. to the tombstones of
    the buckets a batch touches) should do so before calling.
    ``apply_batch`` does not call it: its bucket-keyed merge takes each
    url's tombstones into the same LWW max as the batch and stored rows.
    """
    ts, off = order_cols
    latest = tombstones.groupBy(key).agg(
        F.max(F.struct(F.col(ts).alias("ts"), F.col(off).alias("off"))).alias("_tomb")
    )
    j = incoming.join(latest, key, "left")
    keep = F.col("_tomb").isNull() | (
        F.struct(F.col(ts).alias("ts"), F.col(off).alias("off")) > F.col("_tomb")
    )
    return j.filter(keep).drop("_tomb")


def fingerprint_aggregate(
    events: DataFrame, key: str = "url", fp_col: str = "fingerprint"
) -> DataFrame:
    """Canonical fingerprint = ';'.join(sorted(set(fps))) per key
    (reference read_records.py:64-78, A13)."""
    return events.groupBy(key).agg(
        F.array_join(F.sort_array(F.collect_set(fp_col)), ";").alias("fingerprint_agg")
    )
