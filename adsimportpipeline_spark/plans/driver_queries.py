"""Driver-contract queries: every implemented operator from SURVEY.md §2 as a
(spark_fn, duckdb_oracle_sql) pair over the shared test tables.

Each Spark query and its ANSI-SQL twin compute the same result with the same
column names (the driver hash-compares values after sorting columns by name).
Determinism rules used throughout:

- float aggregates go through exact DECIMAL sums, cast to double at the end
  (eliminates summation-order divergence between engines);
- every ranking has a total order (explicit tiebreak columns);
- hashes use the md5-based portable hash (identical bit-for-bit in both).

Oracle-less entries (mapInPandas multimodal, LSH ANN, CDC replay) are listed
in NO_ORACLE — the driver records a weaker rows-only check for those.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.html import extract_text_sql, html_to_text
from ..functions.textstats import (
    bpe_ish_token_count,
    bpe_ish_token_count_sql,
    content_fingerprint,
    content_fingerprint_sql,
    lang_id,
    lang_id_sql,
    portable_hash,
    quality_score,
    quality_score_sql,
    token_count,
    token_count_sql,
)
from ..operators import cdc, dedup, lww, merge_rules, similarity

# priority of event origins for merge rules (analog of reference PRIORITIES,
# config.py:93-336; unknown origins default to 0.5 = PUBLISHER, merger.py:305)
EVENT_PRIORITIES = {"purchase": 1.0, "signup": 0.8, "view": 0.6, "click": 0.3, "error": 0.1}

_PRIO_SQL = (
    "CASE event_type WHEN 'purchase' THEN 1.0::DOUBLE WHEN 'signup' THEN 0.8::DOUBLE "
    "WHEN 'view' THEN 0.6::DOUBLE WHEN 'click' THEN 0.3::DOUBLE WHEN 'error' THEN 0.1::DOUBLE "
    "ELSE 0.5::DOUBLE END"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch_dir(fn, prefix: str) -> str:
    """Per-query scratch table dir with at most ONE alive across repeated
    invocations: drop the previous run's dir (its DataFrames are consumed
    by then), mkdtemp a fresh one, and register a single atexit that
    rmtrees whichever dir is CURRENT at interpreter exit (the getattr
    default re-reads ``fn._scratch`` then, not at registration).  Shared
    by every oracle query that materializes a lake table under /tmp —
    repeated sweeps must not accumulate abandoned tables."""
    import atexit
    import shutil
    import tempfile

    prev = getattr(fn, "_scratch", None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    root = tempfile.mkdtemp(prefix=prefix)
    if prev is None:
        atexit.register(
            lambda: shutil.rmtree(
                getattr(fn, "_scratch", root), ignore_errors=True
            )
        )
    fn._scratch = root
    return root


# =====================================================================
# CDC core operators on the `events` stream table
# =====================================================================

def q_lww_latest(spark, sf_dir):
    """A3/A4/W5: LWW winner per user over (ts, event_id) — max_by plan."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    return lww.lww_dedup(ev, key="user_id", order_cols=("ts", "event_id"))


def q_lww_latest_salted(spark, sf_dir):
    """Same result via explicit two-phase hot-key salting (north_rule)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    return lww.lww_dedup_salted(ev, key="user_id", order_cols=("ts", "event_id"), n_salts=8)


def q_lww_latest_window(spark, sf_dir):
    """Same result via the row_number window formulation (reference W5)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    return lww.lww_dedup_window(ev, key="user_id", order_cols=("ts", "event_id"))


def q_lww_latest_semi(spark, sf_dir):
    """Same result via the payload-light argmax + broadcast-back semi-join
    (the 100 TB plan: losing payloads never shuffle)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    return lww.lww_dedup_semi(ev, key="user_id", order_cols=("ts", "event_id"))


_LWW_SQL = """
SELECT user_id, ts, event_id, event_type, value FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_changed_records(spark, sf_dir):
    """P2: fingerprint-diff change detection (tasks.py:52-64): users whose
    latest event payload fingerprint differs from their first (the 'stored'
    state)."""
    ev = _t(spark, sf_dir, "events").withColumn("fingerprint", F.md5(F.coalesce("props", F.lit(""))))
    sel = ev.select("user_id", "ts", "event_id", "fingerprint")
    stored = lww.lww_first(
        sel, key="user_id", order_cols=("ts", "event_id")
    ).select("user_id", "fingerprint")
    incoming = lww.lww_dedup(sel, key="user_id", order_cols=("ts", "event_id"))
    out = cdc.changed_records(incoming, stored, key="user_id")
    return out.select("user_id", "event_id", "fingerprint")


_CHANGED_SQL = """
WITH fp AS (SELECT user_id, ts, event_id, md5(coalesce(props,'')) AS fingerprint FROM events),
stored AS (SELECT user_id, fingerprint FROM (
  SELECT user_id, fingerprint, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn FROM fp) WHERE rn=1),
incoming AS (SELECT user_id, event_id, fingerprint FROM (
  SELECT user_id, event_id, fingerprint, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM fp) WHERE rn=1)
SELECT i.user_id, i.event_id, i.fingerprint
FROM incoming i LEFT JOIN stored s ON i.user_id = s.user_id
WHERE s.fingerprint IS NULL OR i.fingerprint <> s.fingerprint OR i.fingerprint = 'ignore'
"""


def q_new_records(spark, sf_dir):
    """P3: feed keys absent from the store (left-anti join, tasks.py:66-73)."""
    ev = _t(spark, sf_dir, "events").select("user_id").distinct()
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("user_id"))
    return cdc.new_records(ev, sup, key="user_id")


_NEW_SQL = """
SELECT DISTINCT user_id FROM events
WHERE user_id NOT IN (SELECT s_suppkey FROM supplier)
"""


def q_orphaned(spark, sf_dir):
    """J2/SO1: stored keys absent from the feed -> deletion candidates
    (compute_orphaned, app.py:106-117)."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey"))
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return cdc.orphaned_records(cust, ev, key="c_custkey")


_ORPHANED_SQL = """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT user_id FROM events)
"""


def q_deletion_cap(spark, sf_dir):
    """W3: deletion safety valve (run.py:65-72): orphan count + allowed flag."""
    orphans = q_orphaned(spark, sf_dir)
    return orphans.agg(
        F.count(F.lit(1)).alias("n_orphaned"),
        (F.count(F.lit(1)) <= 2000).alias("allowed"),
    )


_DELETION_CAP_SQL = """
SELECT count(*)::BIGINT AS n_orphaned, count(*) <= 2000 AS allowed
FROM customer WHERE c_custkey NOT IN (SELECT user_id FROM events)
"""


def q_tombstone_guard(spark, sf_dir):
    """J5: resurrection guard (app.py:54-67): latest non-error event per user
    survives only if newer than the user's latest 'error' tombstone."""
    ev = _t(spark, sf_dir, "events")
    incoming = lww.lww_dedup(
        ev.filter(F.col("event_type") != "error")
        .select("user_id", F.col("ts").alias("warc_ts"), F.col("event_id").alias("log_offset"), "event_type"),
        key="user_id",
        order_cols=("warc_ts", "log_offset"),
    )
    tombs = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("warc_ts"), F.col("event_id").alias("log_offset")
    )
    out = cdc.tombstone_guard(incoming, tombs, key="user_id")
    return out.select(
        "user_id",
        F.col("warc_ts").alias("ts"),
        F.col("log_offset").alias("event_id"),
        "event_type",
    )


_TOMBSTONE_SQL = """
WITH incoming AS (
  SELECT user_id, ts, event_id, event_type FROM (
    SELECT user_id, ts, event_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE event_type <> 'error') WHERE rn = 1),
tomb AS (
  SELECT user_id, ts AS tts, event_id AS tid FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE event_type = 'error') WHERE rn = 1)
SELECT i.user_id, i.ts, i.event_id, i.event_type
FROM incoming i LEFT JOIN tomb t ON i.user_id = t.user_id
WHERE t.tts IS NULL OR i.ts > t.tts OR (i.ts = t.tts AND i.event_id > t.tid)
"""


def q_fingerprint_agg(spark, sf_dir):
    """A13: canonical fingerprint = ';'.join(sorted(set)) (read_records.py:78)."""
    ev = _t(spark, sf_dir, "events").select("user_id", F.col("event_type").alias("fingerprint"))
    return cdc.fingerprint_aggregate(ev, key="user_id", fp_col="fingerprint")


_FP_AGG_SQL = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ';') AS fingerprint_agg
FROM events GROUP BY user_id
"""


def q_origin_trust_merge(spark, sf_dir):
    """A3+A4: priority-max fold with the equalTrustFallback cascade
    (merger.py:286-339), two-phase: same-origin ties resolve by latest
    modtime first; cross-origin equal-priority ties resolve by content
    length before modtime — exactly the reference's asymmetric cascade."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value", "props")
    out = merge_rules.origin_trust_merge(
        ev,
        key="user_id",
        origin_col="event_type",
        priority_map=EVENT_PRIORITIES,
        modtime_col="ts",
        content_col="props",
        offset_col="event_id",
    )
    return out.select("user_id", "event_id", "event_type", "value")


_ORIGIN_TRUST_SQL = f"""
WITH champions AS (
  SELECT user_id, ts, event_id, event_type, value, props FROM (
    SELECT user_id, ts, event_id, event_type, value, props,
           row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY (coalesce(length(props),0) > 0) DESC, ts DESC,
                      coalesce(length(props),0) DESC, event_id DESC) rn
    FROM events) WHERE rn = 1)
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
           ORDER BY (coalesce(length(props),0) > 0) DESC, {_PRIO_SQL} DESC,
                    coalesce(length(props),0) DESC, ts DESC, event_id DESC) rn
  FROM champions) WHERE rn = 1
"""


def q_record_merge(spark, sf_dir):
    """A2+A12 composition: the per-field merge driver (Merger.merge,
    merger.py:107-131 + MERGER_RULES config.py:48-91) — typed block rows ->
    ONE canonical record per key with a different rule per field, computed
    as conditional aggregation (two shuffles total for all fields).

    Deliberately UNFANNED: a 10x-scale A/B (OPTIMIZATION_r06.md) measured
    round-robin fan-out of the events scan SLOWER (1.96 -> 2.59 s); the
    two grouping passes over the single-row-group scan beat paying a
    full-row exchange first."""
    from ..operators.record_merge import record_merge

    ev = _t(spark, sf_dir, "events")
    field = F.element_at(
        F.array(F.lit("title"), F.lit("keywords"), F.lit("doi"), F.lit("refereed")),
        (F.col("event_id") % 4 + 1).cast("int"),
    )
    value = F.when(
        field == "refereed",
        F.when(F.col("value") > 50, F.lit("true")).otherwise(F.lit("false")),
    ).otherwise(F.coalesce(F.col("props"), F.lit("")))
    blocks = ev.select(
        F.col("user_id"),
        field.alias("field"),
        value.alias("value"),
        F.col("event_type").alias("origin"),
        F.col("ts").alias("modtime"),
        F.col("event_id").alias("offset"),
    )
    out = record_merge(
        blocks,
        rules={
            "title": "origin_trust",
            "keywords": "take_all",
            "doi": "take_all_by_priority",
            "refereed": "boolean",
        },
        key="user_id",
        priority_map=EVENT_PRIORITIES,
    )
    # array columns projected to delimited strings so the driver's
    # canonicalizer can hash them (same pattern as q_take_all)
    return out.select(
        "user_id",
        "title",
        F.array_join("keywords", "|").alias("keywords"),
        F.array_join("doi", "|").alias("doi"),
        "refereed",
    )


_PRIO_ORIGIN_SQL = (
    "CASE origin WHEN 'purchase' THEN 1.0::DOUBLE WHEN 'signup' THEN 0.8::DOUBLE "
    "WHEN 'view' THEN 0.6::DOUBLE WHEN 'click' THEN 0.3::DOUBLE WHEN 'error' THEN 0.1::DOUBLE "
    "ELSE 0.5::DOUBLE END"
)

_RECORD_MERGE_SQL = f"""
WITH blocks AS (
  SELECT user_id,
         ['title','keywords','doi','refereed'][(event_id % 4)::INT + 1] AS field,
         CASE WHEN (event_id % 4) = 3
              THEN (CASE WHEN value > 50 THEN 'true' ELSE 'false' END)
              ELSE coalesce(props, '') END AS value,
         event_type AS origin, ts AS modtime, event_id AS off
  FROM events),
t1 AS (SELECT user_id, origin, value, modtime, off FROM (
   SELECT *, row_number() OVER (PARTITION BY user_id, origin
     ORDER BY (length(value) > 0) DESC, modtime DESC, length(value) DESC, off DESC) rn
   FROM blocks WHERE field = 'title') WHERE rn = 1),
title_w AS (SELECT user_id, value AS title FROM (
   SELECT *, row_number() OVER (PARTITION BY user_id
     ORDER BY (length(value) > 0) DESC, {_PRIO_ORIGIN_SQL} DESC, length(value) DESC,
              modtime DESC, off DESC) rn
   FROM t1) WHERE rn = 1),
kw1 AS (SELECT user_id, value, min(off) AS o FROM blocks
        WHERE field = 'keywords' GROUP BY user_id, value),
kw AS (SELECT user_id, list(value ORDER BY o, value) AS keywords FROM kw1 GROUP BY user_id),
d1 AS (SELECT user_id, value, np, o FROM (
   SELECT user_id, value, -({_PRIO_ORIGIN_SQL}) AS np, off AS o,
          row_number() OVER (PARTITION BY user_id, value
            ORDER BY -({_PRIO_ORIGIN_SQL}), off) rn
   FROM blocks WHERE field = 'doi') WHERE rn = 1),
doi_l AS (SELECT user_id, list(value ORDER BY np, o, value) AS doi FROM d1 GROUP BY user_id),
rf AS (SELECT user_id, max(value::BOOLEAN) AS refereed FROM blocks
       WHERE field = 'refereed' GROUP BY user_id),
base AS (SELECT DISTINCT user_id FROM blocks)
SELECT b.user_id, t.title,
       array_to_string(k.keywords, '|') AS keywords,
       array_to_string(d.doi, '|') AS doi,
       r.refereed
FROM base b
LEFT JOIN title_w t USING (user_id)
LEFT JOIN kw k USING (user_id)
LEFT JOIN doi_l d USING (user_id)
LEFT JOIN rf r USING (user_id)
"""


def q_merge_text(spark, sf_dir):
    """A11 mergeText (merger.py:83-104): text-field fold to one
    (content, provider, modtime) per key via the origin-trust cascade."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "props")
    return merge_rules.merge_text(
        ev,
        key="user_id",
        content_col="props",
        origin_col="event_type",
        priority_map=EVENT_PRIORITIES,
        modtime_col="ts",
        offset_col="event_id",
    )


_MERGE_TEXT_SQL = f"""
WITH champions AS (
  SELECT user_id, ts, event_id, event_type, props FROM (
    SELECT user_id, ts, event_id, event_type, props,
           row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY (coalesce(length(props),0) > 0) DESC, ts DESC,
                      coalesce(length(props),0) DESC, event_id DESC) rn
    FROM events) WHERE rn = 1)
SELECT user_id, content, provider, modtime FROM (
  SELECT user_id, props AS content, event_type AS provider, ts AS modtime,
         row_number() OVER (PARTITION BY user_id
           ORDER BY (coalesce(length(props),0) > 0) DESC, {_PRIO_SQL} DESC,
                    coalesce(length(props),0) DESC, ts DESC, event_id DESC) rn
  FROM champions) WHERE rn = 1
"""


def q_ensure_list(spark, sf_dir):
    """F4 ensureList (enforce_schema.py:40-43): None -> [], scalar ->
    [scalar], list passes through — ragged shapes as (scalar, array)
    column twins, one non-null per row."""
    from ..functions.scalars import ensure_list

    docs = _t(spark, sf_dir, "documents")
    scalar = F.when(F.col("doc_id") % 3 == 0, F.col("lang"))
    arr = F.when(F.col("doc_id") % 3 == 1, F.array(F.col("lang"), F.col("source")))
    norm = ensure_list(scalar, arr)
    return docs.select(
        "doc_id",
        F.size(norm).cast("int").alias("n_values"),
        F.array_join(norm, "|").alias("values"),
    )


from ..functions.scalars import ensure_list_sql  # noqa: E402

_ENSURE_LIST_NORM = ensure_list_sql(
    "CASE WHEN doc_id % 3 = 0 THEN lang END",
    "CASE WHEN doc_id % 3 = 1 THEN [lang, source] END",
)
_ENSURE_LIST_SQL = f"""
SELECT doc_id,
       len({_ENSURE_LIST_NORM})::INT AS n_values,
       coalesce(array_to_string({_ENSURE_LIST_NORM}, '|'), '') AS values
FROM documents
"""


def q_take_all(spark, sf_dir):
    """A5: order-preserving union-distinct (merger.py:226-241)."""
    ev = _t(spark, sf_dir, "events").withColumn("_ord", F.struct("ts", "event_id"))
    out = merge_rules.take_all(ev.select("user_id", "event_type", "_ord"), "user_id", "event_type", "_ord")
    return out.select("user_id", F.array_join("values", "|").alias("merged"))


_TAKE_ALL_SQL = """
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
  FROM events)
SELECT user_id, array_to_string(array_agg(event_type ORDER BY ts, event_id), '|') AS merged
FROM r WHERE rn = 1 GROUP BY user_id
"""


def q_take_all_by_priority(spark, sf_dir):
    """A6: union-distinct in origin-priority order (merger.py:244-265)."""
    ev = _t(spark, sf_dir, "events").withColumn("_ord", F.struct("ts", "event_id"))
    out = merge_rules.take_all_by_priority(
        ev.select("user_id", "event_type", "_ord"),
        "user_id",
        "event_type",
        origin_col="event_type",
        priority_map=EVENT_PRIORITIES,
        order_col="_ord",
    )
    return out.select("user_id", F.array_join("values", "|").alias("merged"))


_TAKE_ALL_PRIO_SQL = f"""
WITH r AS (
  SELECT user_id, event_type, ts, event_id, {_PRIO_SQL} AS p,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY {_PRIO_SQL} DESC, ts, event_id) rn
  FROM events)
SELECT user_id, array_to_string(array_agg(event_type ORDER BY p DESC, ts, event_id), '|') AS merged
FROM r WHERE rn = 1 GROUP BY user_id
"""


def q_boolean_merge(spark, sf_dir):
    """A7: OR over blocks (merger.py:155-158)."""
    ev = _t(spark, sf_dir, "events").withColumn("is_purchase", F.col("event_type") == "purchase")
    return merge_rules.boolean_merge(ev.select("user_id", "is_purchase"), "user_id", "is_purchase", "merged")


_BOOL_SQL = """
SELECT user_id, bool_or(event_type = 'purchase') AS merged FROM events GROUP BY user_id
"""


def q_references_merge(spark, sf_dir):
    """A8: priority winner's values + always-append origins, dedup'd
    (merger.py:160-176; REFERENCES_ALWAYS_APPEND config.py:340)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", F.array(F.col("event_type")).alias("vals")
    )
    out = merge_rules.references_merge(
        ev,
        key="user_id",
        value_col="vals",
        origin_col="event_type",
        priority_map=EVENT_PRIORITIES,
        modtime_col="ts",
        always_append_origins=["error", "signup"],
    )
    return out.select("user_id", F.array_join("references", "|").alias("references"))


_REFS_SQL = f"""
WITH winner AS (
  SELECT user_id, event_type AS wtype FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY {_PRIO_SQL} DESC, ts DESC) rn
    FROM events) WHERE rn = 1),
appends AS (
  SELECT user_id, list(DISTINCT event_type) AS atypes
  FROM events WHERE event_type IN ('error','signup') GROUP BY user_id)
SELECT w.user_id,
       array_to_string(list_sort(list_distinct(list_append(coalesce(a.atypes, []), w.wtype))), '|') AS references
FROM winner w LEFT JOIN appends a ON w.user_id = a.user_id
"""


def q_block_grouping(spark, sf_dir):
    """A1: blocks-per-type histogram + single/multi split (merger.py:16-46)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        (F.count(F.lit(1)) > 1).alias("multiply_defined"),
    )


_BLOCK_SQL = """
SELECT user_id, event_type, count(*)::BIGINT AS n_blocks, count(*) > 1 AS multiply_defined
FROM events GROUP BY user_id, event_type
"""


def q_publication_split(spark, sf_dir):
    """A9: primary-vs-alternate split (merger.py:178-223): best 'purchase'
    block is primary, other event types counted as alternates."""
    ev = _t(spark, sf_dir, "events")
    primary = lww.lww_dedup(
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id"),
        key="user_id",
        order_cols=("ts", "event_id"),
    ).select("user_id", F.col("event_id").alias("primary_event_id"))
    alts = ev.filter(F.col("event_type") != "purchase").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_alternates")
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(primary, "user_id", "left")
        .join(alts, "user_id", "left")
        .select(
            "user_id",
            "primary_event_id",
            F.coalesce("n_alternates", F.lit(0)).cast("long").alias("n_alternates"),
        )
    )


_PUB_SPLIT_SQL = """
WITH prim AS (
  SELECT user_id, event_id AS primary_event_id FROM (
    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
alts AS (SELECT user_id, count(*)::BIGINT AS n_alternates FROM events WHERE event_type <> 'purchase' GROUP BY user_id)
SELECT u.user_id, p.primary_event_id, coalesce(a.n_alternates, 0)::BIGINT AS n_alternates
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN prim p ON u.user_id = p.user_id
LEFT JOIN alts a ON u.user_id = a.user_id
"""


def q_first_writer_wins(spark, sf_dir):
    """S1 dup policy: priority-ordered feed, first writer wins per key
    (run.py:34-62 OrderedDict setdefault)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "props")
    out = lww.lww_first(ev, key="user_id", order_cols=("ts", "event_id"))
    return out.select("user_id", F.col("event_id").alias("first_event_id"), F.col("props").alias("first_props"))


_FIRST_WINS_SQL = """
SELECT user_id, event_id AS first_event_id, props AS first_props FROM (
  SELECT user_id, event_id, props, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
  FROM events) WHERE rn = 1
"""


def q_top2_per_type(spark, sf_dir):
    """W1/W2: sort + top-k per group (author ordering / first-author analog,
    solr_adapter.py:130, 358-364)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("event_type", "event_id", "value", "rank")
    )


_TOP2_SQL = """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
  FROM events) WHERE rank <= 2
"""


def q_identifier_union(spark, sf_dir):
    """SO3: union-distinct identifier merge (solr_adapter.py:413-420)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    return c.union(s).distinct()


_IDENT_UNION_SQL = """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey::BIGINT AS nationkey FROM customer
  UNION ALL SELECT s_nationkey::BIGINT FROM supplier)
"""


def q_scalar_normalize(spark, sf_dir):
    """F1/F2/F3/F15: date normalization (multi-precision parse), bool
    coercion, midnight day-shift (enforce_schema.py:54-83,
    solr_adapter.py:283-300)."""
    ev = _t(spark, sf_dir, "events")
    dstr = F.substring(F.col("ts").cast("string"), 1, 10)
    mstr = F.concat(F.substring(F.col("ts").cast("string"), 1, 7), F.lit("-01"))
    return ev.select(
        "event_id",
        F.to_timestamp(dstr).alias("parsed_date"),
        F.to_timestamp(mstr).alias("parsed_month"),
        (F.col("value") > 50).alias("flag"),
        F.when(F.hour("ts") == 0, F.col("ts") + F.expr("INTERVAL 1 DAY")).otherwise(F.col("ts")).alias("entry_date"),
    )


_SCALAR_SQL = """
SELECT event_id,
       CAST(substr(ts::VARCHAR, 1, 10) AS TIMESTAMP) AS parsed_date,
       CAST(substr(ts::VARCHAR, 1, 7) || '-01' AS TIMESTAMP) AS parsed_month,
       value > 50 AS flag,
       CASE WHEN extract(hour FROM ts) = 0 THEN ts + INTERVAL 1 DAY ELSE ts END AS entry_date
FROM events
"""


# =====================================================================
# Relational coverage / bench headliners (TPC-H-ish)
# =====================================================================

# =====================================================================
# Ragged-scalar surface (§2.7 tail): F5 / F7 / F9 / J6
# =====================================================================

def q_language_schema(spark, sf_dir):
    """F5 ensureLanguageSchema (enforce_schema.py:21-38): plain-string OR
    ragged-struct values normalized to one array<struct<lang,text>> via the
    transform HOF; projected as parallel arrays for hashing."""
    from ..functions.scalars import ensure_language_schema

    docs = _t(spark, sf_dir, "documents")
    plain = F.when(F.col("doc_id") % 2 == 0, F.col("text"))
    structs = F.when(
        F.col("doc_id") % 2 != 0,
        F.array(
            F.struct(F.col("lang").alias("at_lang"), F.col("source").alias("hash_text")),
            F.struct(
                F.lit(None).cast("string").alias("at_lang"),
                F.col("text").alias("hash_text"),
            ),
        ),
    )
    norm = ensure_language_schema(plain, structs)
    # delimited-string projection (null elements get a sentinel) so the
    # driver's canonicalizer can hash the parallel arrays
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(norm, lambda s: F.coalesce(s["lang"], F.lit("<NULL>"))), "|"
        ).alias("langs"),
        F.array_join(
            F.transform(norm, lambda s: F.coalesce(s["text"], F.lit("<NULL>"))), "|"
        ).alias("texts"),
    )


from ..functions.scalars import (  # noqa: E402
    ensure_language_schema_sql,
    host_stem_mapper_sql,
    source_class_mapper_sql,
)

_LANG_SCHEMA_NORM = ensure_language_schema_sql(
    "CASE WHEN doc_id % 2 = 0 THEN text END",
    "CASE WHEN doc_id % 2 <> 0 THEN "
    "[{'at_lang': lang, 'hash_text': source}, {'at_lang': NULL, 'hash_text': text}] END",
)
_LANG_SCHEMA_SQL = f"""
SELECT doc_id,
       array_to_string(list_transform({_LANG_SCHEMA_NORM},
                                      s -> coalesce(s.lang, '<NULL>')), '|') AS langs,
       array_to_string(list_transform({_LANG_SCHEMA_NORM},
                                      s -> coalesce(s.text, '<NULL>')), '|') AS texts
FROM documents
"""


def q_host_stem_map(spark, sf_dir):
    """F7 bibstem_mapper (solr_adapter.py:752-776): fixed-position substring
    slicing + special-case when-chain + digit-spill reset, over hostnames."""
    from ..functions.scalars import host_stem_mapper

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("www."))
        .when(F.col("doc_id") % 7 == 0, F.lit("m."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
    )
    short, long = host_stem_mapper(host)
    return docs.select(
        "doc_id", short.alias("short_stem"), long.alias("long_stem")
    )


_HOST_EXPR = (
    "(CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 7 = 0 THEN 'm.' ELSE '' END "
    "|| source || '.example.com')"
)
_HOST_SHORT_SQL, _HOST_LONG_SQL = host_stem_mapper_sql(_HOST_EXPR)
_HOST_STEM_SQL = f"""
SELECT doc_id, {_HOST_SHORT_SQL} AS short_stem, {_HOST_LONG_SQL} AS long_stem
FROM documents
"""


def q_source_class_map(spark, sf_dir):
    """F9 simbad/ned type mappers (solr_adapter.py:658-705): when-chain
    folding raw source tags into a facet vocabulary."""
    from ..functions.scalars import source_class_mapper

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", source_class_mapper(F.col("source")).alias("source_class")
    )


_SOURCE_CLASS_SQL = f"""
SELECT doc_id, source, {source_class_mapper_sql('source')} AS source_class
FROM documents
"""


def q_parse_date_multi(spark, sf_dir):
    """F1/F2 parseDate (enforce_schema.py:55-83), all quirks: multi-format
    fallback chain, '-00' month repair, +30min solr offset on full dates,
    pre-1900 isoformat rendering."""
    from ..functions.scalars import parse_date_multi

    ev = _t(spark, sf_dir, "events")
    datestr = (
        F.when(F.col("event_id") % 7 == 0, F.lit("1880-05"))
        .when(F.col("event_id") % 5 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
        .when(F.col("event_id") % 5 == 1, F.date_format("ts", "yyyy-MM-dd"))
        .when(F.col("event_id") % 5 == 2, F.date_format("ts", "yyyy-MM"))
        .when(F.col("event_id") % 5 == 3, F.date_format("ts", "yyyy"))
        .otherwise(F.concat(F.date_format("ts", "yyyy"), F.lit("-00")))
    )
    return ev.select(
        "event_id", datestr.alias("datestr"), parse_date_multi(datestr).alias("solr_date")
    )


from ..functions.scalars import parse_date_multi_sql  # noqa: E402

_DATESTR_SQL = (
    "CASE WHEN event_id % 7 = 0 THEN '1880-05' "
    "WHEN event_id % 5 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') "
    "WHEN event_id % 5 = 1 THEN strftime(ts, '%Y-%m-%d') "
    "WHEN event_id % 5 = 2 THEN strftime(ts, '%Y-%m') "
    "WHEN event_id % 5 = 3 THEN strftime(ts, '%Y') "
    "ELSE strftime(ts, '%Y') || '-00' END"
)
_PARSE_DATE_SQL = f"""
WITH d AS (SELECT event_id, {_DATESTR_SQL} AS datestr FROM events)
SELECT event_id, datestr, {parse_date_multi_sql('datestr')} AS solr_date FROM d
"""


def q_positional_zip(spark, sf_dir):
    """J6 positional claims join (solr_adapter.py:518-532): zip two parallel
    arrays by POSITION, keep values whose companion passes the predicate."""
    from ..functions.scalars import positional_zip_filter

    docs = _t(spark, sf_dir, "documents")
    words = F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 6)
    types = F.transform(
        words,
        lambda w: F.when(F.length(w) % 2 == 0, F.lit("even")).otherwise(F.lit("odd")),
    )
    kept = positional_zip_filter(words, types, lambda c: c == "even")
    return docs.select(
        "doc_id",
        F.when(F.size(kept) > 0, F.array_join(kept, "|")).alias("kept_words"),
    )


def q_typed_element_filter(spark, sf_dir):
    """P7/P8: typed-element predicates over struct arrays (AUTHOR_TYPES
    membership + link-type equality) as filter HOFs — no explode."""
    from ..functions.scalars import filter_typed_elements

    docs = _t(spark, sf_dir, "documents")
    words = F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8)
    authors = F.transform(
        words,
        lambda w: F.struct(
            w.alias("name"),
            F.when(F.length(w) % 3 == 0, F.lit("regular"))
            .when(F.length(w) % 3 == 1, F.lit("collaboration"))
            .otherwise(F.lit("other"))
            .alias("atype"),
        ),
    )
    kept = filter_typed_elements(authors, "atype", ["regular", "collaboration"])
    names = F.transform(kept, lambda x: x["name"])
    n_links = F.size(F.filter(authors, lambda x: x["atype"] == "other"))
    return docs.select(
        "doc_id",
        F.when(F.size(names) > 0, F.array_join(names, "|")).alias("kept_names"),
        n_links.cast("int").alias("n_other"),
    )


_TYPED_FILTER_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_transform((regexp_split_to_array(trim(text), '\s+'))[1:8],
           x -> {'name': x,
                 'atype': CASE WHEN length(x) % 3 = 0 THEN 'regular'
                               WHEN length(x) % 3 = 1 THEN 'collaboration'
                               ELSE 'other' END}) AS authors
  FROM documents)
SELECT doc_id,
       CASE WHEN len(list_filter(authors, x -> x.atype IN ('regular','collaboration'))) > 0
            THEN array_to_string(list_transform(list_filter(authors, x -> x.atype IN ('regular','collaboration')), x -> x.name), '|')
            END AS kept_names,
       len(list_filter(authors, x -> x.atype = 'other'))::INT AS n_other
FROM w
"""


_POSITIONAL_ZIP_SQL = r"""
WITH w AS (SELECT doc_id, (regexp_split_to_array(trim(text), '\s+'))[1:6] AS words
           FROM documents),
z AS (SELECT doc_id, unnest(words) AS wd, generate_subscripts(words, 1) AS pos FROM w)
SELECT d.doc_id, array_to_string(k.kept_words, '|') AS kept_words
FROM documents d LEFT JOIN (
  SELECT doc_id, list(wd ORDER BY pos) AS kept_words
  FROM z WHERE length(wd) % 2 = 0 GROUP BY doc_id) k USING (doc_id)
"""


def q_pricing_summary(spark, sf_dir):
    """Q1-style aggregation over lineitem (decimal-exact sums).

    Deliberately UNFANNED: a 10x-scale A/B (OPTIMIZATION_r06.md) measured
    round-robin fan-out before the aggregation SLOWER (2.11 -> 2.28 s) —
    the full-row exchange costs more than the few-task partial
    aggregation it parallelizes, the same negative result as
    cdc_final_state's fan-out experiment."""
    li = _t(spark, sf_dir, "lineitem")
    # exact decimal products: no double rounding at half boundaries
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_minus_disc = F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    one_plus_tax = F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)")
    disc = (price * one_minus_disc).cast("decimal(24,6)")
    charge = (price * one_minus_disc * one_plus_tax).cast("decimal(24,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    """Q3-style 3-way join + exact-decimal revenue top-10."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    disc = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(24,6)")
    # join order: customer-filter orders FIRST (broadcast the small
    # filtered customer side), then broadcast the ~1/5-selectivity result
    # to the lineitem probe — the big scan joins against one ~5 MB hash
    # relation instead of the full 1.5M-row orders table (guide §3.1; the
    # inner joins commute and decimal sums are exact, so the result is
    # value-identical)
    o = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_orderdate")
    )
    j = li.join(F.broadcast(o), li.l_orderkey == F.col("o_orderkey"))
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(F.sum(disc).alias("_rev"))
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_orderdate", F.col("_rev").cast("double").alias("revenue"))
    )


_Q3_SQL = """
SELECT o_orderkey, o_orderdate, CAST(rev AS DOUBLE) AS revenue FROM (
  SELECT o_orderkey, o_orderdate,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(24,6))) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate
  ORDER BY rev DESC, o_orderkey ASC LIMIT 10)
"""


def q_semi_join_lookup(spark, sf_dir):
    """J1: batched key lookup as a broadcast join (app.py:79-86) + exact sums."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
    )


_SEMI_SQL = """
SELECT c_mktsegment, count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# =====================================================================
# Training-data pipeline: documents
# =====================================================================

def q_doc_fingerprint_groups(spark, sf_dir):
    """Exact dedup assignment: normalized-content fingerprint groups."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(content_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")), ",").alias("doc_ids"),
        )
    )


_EXACT_DUP_SQL = f"""
SELECT {content_fingerprint_sql('text')} AS fingerprint,
       count(*)::BIGINT AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM documents GROUP BY 1
"""

_WORDS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

_SHINGLES_CTE = f"""
words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                                         i -> array_to_string(w[i:i+2], ' '))) AS shingle
    FROM words) t WHERE shingle <> '')
"""


def _mh_sql(i: int) -> str:
    return f"min(CAST(concat('0x', substr(md5(concat('{i}:', shingle)), 1, 15)) AS BIGINT)) AS mh{i}"


def q_doc_minhash_sigs(spark, sf_dir):
    """MinHash signatures (k=8, word 3-gram shingles, portable hashes)."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    return dedup.minhash_signatures(sh, "doc_id", k=8)


_MINHASH_SIGS_SQL = (
    "WITH "
    + _SHINGLES_CTE
    + "SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM shingles GROUP BY doc_id"
)


#: boilerplate-bucket cap for the LSH self-join (members above this are
#: skipped; lsh_bucket_stats audits exactly which).  The oracle applies the
#: identical cap, so the two stay equivalent by construction.
LSH_BUCKET_CAP = 2000


def q_doc_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs (band=2, jaccard verify >= 0.05), with the
    hot-bucket cap that keeps a boilerplate bucket from going quadratic.

    Deliberately UNPERSISTED: an r06 A/B under the bench conf measured
    every persist variant slower; the five shingle-subtree consumers share
    ONE scan+regex+distinct map stage instead, via AQE runtime stage reuse
    unlocked by minhash_dedup_pairs' optimizer barrier (see its
    docstring)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, k=8, band_size=2, threshold=0.05,
        bucket_cap=LSH_BUCKET_CAP,
    )


def q_incremental_lsh_pairs(spark, sf_dir):
    """Incremental LSH index vs the batch-mode oracle, end to end: deliver
    the documents corpus as a 4-wave change stream (3 insert waves split by
    a hash of doc_id, then a re-delivery wave that supersedes wave 0 with
    newer offsets), maintain the band index incrementally
    (operators/incremental_dedup.py — fast-append commits of each wave's
    band rows, validity by (url, warc_ts, log_offset) against the final
    state), then verify the index's valid candidates with the
    same jaccard pass as batch mode.  The oracle is _MINHASH_PAIRS_SQL
    VERBATIM — four rounds of incremental maintenance with supersession
    must land on exactly the answer a full batch recompute gives."""
    from ..operators.incremental_dedup import (
        create_lsh_index,
        lsh_index_pairs,
        update_lsh_index,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    # doc_id is already a unique long — offsets derive from it directly (no
    # global row_number window, which would funnel the synth to one task)
    base = docs.withColumn("_row", F.col("url").cast("long")).withColumn(
        "warc_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    wave_of = F.pmod(F.xxhash64("url"), F.lit(3))

    root = _scratch_dir(q_incremental_lsh_pairs, "inclsh-")
    index = create_lsh_index(spark, root, n_buckets=8)
    waves = [base.filter(wave_of == w) for w in range(3)]
    # wave 3 re-delivers wave 0's docs (same text) at strictly newer
    # offsets: the old band rows must stop matching the final state and the
    # new ones take over — pair answer unchanged
    waves.append(waves[0])
    for w, wave in enumerate(waves):
        upserts = wave.select(
            "url",
            "warc_ts",
            (F.lit(w * 1_000_000) + F.col("_row")).alias("log_offset"),
            "text",
        )
        update_lsh_index(index, upserts, batch_id=w)

    final_current = base.select(
        "url",
        "warc_ts",
        (
            F.when(wave_of == 0, F.lit(3 * 1_000_000))
            .otherwise(wave_of * F.lit(1_000_000))
            + F.col("_row")
        ).alias("log_offset"),
    )
    candidates = lsh_index_pairs(index, final_current, bucket_cap=LSH_BUCKET_CAP)
    shingles = dedup.word_shingles(docs, "url", "text", n=3)
    verified = dedup.jaccard_verify(candidates, shingles, id_col="url", threshold=0.05)
    # pair identity is unordered; the index orients by STRING url order,
    # the oracle by numeric doc_id — re-orient numerically
    a, b = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    return verified.select(
        F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b"), "jaccard"
    )


def _band_sql(b: int, band_size: int = 2) -> str:
    cols = "||'|'||".join(f"mh{b * band_size + j}::VARCHAR" for j in range(band_size))
    return f"md5('{b}'||'|'||{cols}) AS band{b}"


#: the shared CTE chain up to the verified pair list — reused verbatim by
#: the pair query's twin AND the cluster/survivor twins below, so the three
#: oracles can never drift apart on what counts as a duplicate pair
_MINHASH_PAIRS_CTES = (
    _SHINGLES_CTE
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM shingles GROUP BY doc_id), "
    + "bands AS (SELECT doc_id, "
    + ", ".join(_band_sql(b) for b in range(4))
    + " FROM sigs), "
    + "stacked0 AS (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bucket FROM bands), "
    + "stacked AS (SELECT doc_id, bucket FROM (SELECT doc_id, bucket, "
    + "count(*) OVER (PARTITION BY bucket) AS bc FROM stacked0) WHERE bc <= "
    + "LSHCAP), "
    + "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM stacked a "
    + "JOIN stacked b ON a.bucket = b.bucket AND a.doc_id < b.doc_id), "
    + "sets AS (SELECT doc_id, list(DISTINCT shingle) AS sh FROM shingles GROUP BY doc_id), "
    + "verified AS (SELECT id_a, id_b, jaccard FROM ("
    + "SELECT id_a, id_b, round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
    + "len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE, 6) AS jaccard "
    + "FROM pairs JOIN sets sa ON id_a = sa.doc_id JOIN sets sb ON id_b = sb.doc_id) "
    + "WHERE jaccard >= 0.05)"
).replace("LSHCAP", str(LSH_BUCKET_CAP))

_MINHASH_PAIRS_SQL = (
    "WITH " + _MINHASH_PAIRS_CTES + " SELECT id_a, id_b, jaccard FROM verified"
)


#: audit-row bucket cap, deliberately TIGHT (10) so the dropped flag is
#: exercised on the test corpus — the production pair join uses
#: LSH_BUCKET_CAP; the audit's whole point is showing what a cap would cut
LSH_AUDIT_CAP = 10


def q_lsh_bucket_audit(spark, sf_dir):
    """The hot-bucket cap's audit surface (lsh_bucket_stats): every LSH band
    bucket with its member count and whether a cap of LSH_AUDIT_CAP would
    drop it — caps are never silent; this is the row an operator reads to
    see exactly which boilerplate buckets the pair join skipped."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        dedup.word_shingles(docs, "doc_id", "text", n=3), "doc_id", k=8
    )
    return dedup.lsh_bucket_stats(
        sigs, "doc_id", k=8, band_size=2, bucket_cap=LSH_AUDIT_CAP
    )


_LSH_AUDIT_SQL = (
    "WITH "
    + _SHINGLES_CTE
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM shingles GROUP BY doc_id), "
    + "bands AS (SELECT doc_id, "
    + ", ".join(_band_sql(b) for b in range(4))
    + " FROM sigs), "
    + "stacked AS (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bucket FROM bands) "
    + "SELECT bucket, count(*)::BIGINT AS members, "
    + f"count(*) > {LSH_AUDIT_CAP} AS dropped FROM stacked GROUP BY bucket"
)


def q_doc_dup_clusters(spark, sf_dir):
    """Near-dup pair graph -> connected components: every document labeled
    with the min doc_id reachable through verified MinHash-LSH pairs
    (singletons label themselves).  The Spark side is the iterative
    hash-to-min + pointer-jumping loop (operators/dedup.py
    duplicate_clusters — O(log diameter) rounds of id-keyed shuffles); the
    oracle is a recursive CTE transitive closure over the IDENTICAL pair
    list, so the equivalence check covers a genuinely non-single-query
    iterative algorithm."""
    docs = _t(spark, sf_dir, "documents")
    prs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, k=8, band_size=2, threshold=0.05,
        bucket_cap=LSH_BUCKET_CAP,
    )
    return dedup.duplicate_clusters(docs, prs, id_col="doc_id")


_DUP_CLUSTER_CLOSURE_CTES = (
    _MINHASH_PAIRS_CTES
    + ", und AS (SELECT id_a AS u, id_b AS v FROM verified "
    + "UNION ALL SELECT id_b, id_a FROM verified), "
    + "reach(u, lbl) AS (SELECT doc_id, doc_id FROM documents "
    + "UNION SELECT und.u, reach.lbl FROM und JOIN reach ON und.v = reach.u), "
    + "memb AS (SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u)"
)

_DUP_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _DUP_CLUSTER_CLOSURE_CTES
    + " SELECT doc_id, cluster_id FROM memb"
)


def q_doc_dedup_survivors(spark, sf_dir):
    """Keep-one selection per duplicate cluster: the surviving document is
    the longest (n_chars DESC, doc_id ASC tie-break) member — the policy a
    training-data pipeline applies after clustering.  Output is one row per
    cluster with the survivor and the member count, so `n_members > 1`
    rows are exactly the clusters where documents get dropped."""
    docs = _t(spark, sf_dir, "documents")
    prs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, k=8, band_size=2, threshold=0.05,
        bucket_cap=LSH_BUCKET_CAP,
    )
    memb = dedup.duplicate_clusters(docs, prs, id_col="doc_id")
    ranked = (
        memb.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id", F.col("doc_id").alias("survivor_id"), "n_members"
    )


_DEDUP_SURVIVORS_SQL = (
    "WITH RECURSIVE "
    + _DUP_CLUSTER_CLOSURE_CTES
    + ", ranked AS (SELECT m.cluster_id, m.doc_id, "
    + "row_number() OVER (PARTITION BY m.cluster_id "
    + "ORDER BY d.n_chars DESC, m.doc_id ASC) AS rn, "
    + "count(*) OVER (PARTITION BY m.cluster_id) AS n_members "
    + "FROM memb m JOIN documents d ON m.doc_id = d.doc_id) "
    + "SELECT cluster_id, doc_id AS survivor_id, n_members FROM ranked WHERE rn = 1"
)


def q_doc_simhash(spark, sf_dir):
    """16-bit SimHash per document (distinct-token bit-majority vote)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=16)


def q_doc_simhash_groups(spark, sf_dir):
    """Exact-signature SimHash collision groups (near-dup buckets): one row
    per signature shared by >1 document, members joined to a stable string
    (the cross-engine array normalization used by doc_fingerprint_groups)."""
    docs = _t(spark, sf_dir, "documents")
    g = dedup.simhash_duplicate_groups(docs, "doc_id", "text", bits=16)
    return g.select(
        "simhash",
        "n_docs",
        F.array_join(
            F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ","
        ).alias("doc_ids"),
    )


# (_SIMHASH_GROUPS_SQL is defined below _simhash_sql, which it derives from)


def _simhash_sql(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(bits))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents) t),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, ({sig})::BIGINT AS simhash FROM votes
"""


_SIMHASH_GROUPS_SQL = f"""
WITH sig AS ({_simhash_sql(16)})
SELECT simhash, count(*)::BIGINT AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM sig GROUP BY simhash HAVING count(*) > 1
"""


def q_doc_simhash_pairs(spark, sf_dir):
    """Banded simhash Hamming join (Manku-style web dedup): pairs within
    Hamming distance 3, candidates from an equi-join on 4-bit signature
    bands (pigeonhole-lossless at 4 bands), exact popcount verify on
    candidates only."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=16, max_hamming=3, n_bands=4
    )


_SIMHASH_PAIRS_SQL = f"""
WITH bands AS (
  SELECT doc_id, simhash,
         i::VARCHAR || ':' || (((simhash >> (i * 4)) & 15))::VARCHAR AS band
  FROM ({_simhash_sql(16)}) sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sig_a,
                  b.doc_id AS id_b, b.simhash AS sig_b
  FROM bands a JOIN bands b USING (band) WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::INTEGER AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


def q_doc_lang_id(spark, sf_dir):
    """Language-ID via stopword-marker argmax (n-gram heuristic)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_pred"))


_LANG_SQL = f"SELECT doc_id, {lang_id_sql('text')} AS lang_pred FROM documents"


def q_doc_quality(spark, sf_dir):
    """Quality scoring (alpha ratio x length/space bands)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


_QUALITY_SQL = f"SELECT doc_id, {quality_score_sql('text')} AS quality FROM documents"


def q_doc_token_count(spark, sf_dir):
    """Whitespace + BPE-ish token counting."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


_TOKENS_SQL = f"""
SELECT doc_id, {token_count_sql('text')}::BIGINT AS n_tokens,
       {bpe_ish_token_count_sql('text')}::BIGINT AS n_bpe_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Per-doc content fingerprint + portable 63-bit hash."""
    docs = _t(spark, sf_dir, "documents")
    fp = content_fingerprint("text")
    return docs.select("doc_id", fp.alias("fingerprint"), portable_hash(F.col("text")).alias("hash63"))


_DOC_FP_SQL = f"""
SELECT doc_id, {content_fingerprint_sql('text')} AS fingerprint,
       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hash63
FROM documents
"""


def q_canonical_fingerprints(spark, sf_dir):
    """J3+A13: alias->canonical mapping join + fingerprint fold
    (conversions.py:37-58, read_records.py:64-78).  Synthetic alias rule:
    user ids with (id % 10) >= 5 are alternates of id-5."""
    from ..operators.canonicalize import canonical_fingerprints

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("url"), F.col("event_type").alias("fingerprint")
    )
    alias_map = (
        ev.select("url")
        .distinct()
        .filter(F.col("url") % 10 >= 5)
        .select(F.col("url").alias("alias"), (F.col("url") - 5).alias("canonical"))
    )
    out = canonical_fingerprints(ev, alias_map, key="url")
    return out.select(F.col("url").alias("user_id"), "fingerprint_agg")


_CANON_FP_SQL = """
SELECT CASE WHEN user_id % 10 >= 5 THEN user_id - 5 ELSE user_id END AS user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ';') AS fingerprint_agg
FROM events GROUP BY 1
"""


def q_output_projection(spark, sf_dir):
    """Adapter stage (P6, F8/F10-F14, F20): flat output doc with facet
    hierarchies, map translation, '; '-join-or-dash, JSON links, and the
    empty-content guard (solr_adapter.py:111-554, 558-590)."""
    from ..functions.adapter import (
        empty_to_null,
        facet_hierarchy,
        joined_or_dash,
        lang_collection,
    )

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("source", "source_origin")
    toks = token_count("text")
    facet0, facet1 = facet_hierarchy("lang", "source_origin")
    links = F.concat(
        F.lit('{"lang":"'), F.col("lang"),
        F.lit('","tokens":'), toks.cast("string"),
        F.lit(',"doc":'), F.col("doc_id").cast("string"), F.lit("}"),
    )
    return docs.select(
        "doc_id",
        empty_to_null(F.col("text")).alias("text"),
        lang_collection("lang").alias("collection"),
        facet0.alias("lang_facet"),
        facet1.alias("lang_source_facet"),
        toks.alias("n_tokens"),
        links.alias("links_data"),
        joined_or_dash(F.array(F.col("lang"), F.col("source_origin"))).alias("tags"),
        F.array_join(F.array(F.col("lang"), F.col("source_origin")), "\n").alias("comments"),
    )


_OUTPUT_PROJ_SQL = f"""
SELECT doc_id,
       CASE WHEN text IS NOT NULL AND length(text) > 0 THEN text END AS text,
       CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german' WHEN 'fr' THEN 'french'
                 WHEN 'es' THEN 'spanish' WHEN 'zh' THEN 'chinese' ELSE 'other' END AS collection,
       '0/' || lang AS lang_facet,
       '1/' || lang || '/' || source AS lang_source_facet,
       {token_count_sql('text')}::BIGINT AS n_tokens,
       '{{"lang":"' || lang || '","tokens":' || ({token_count_sql('text')})::BIGINT || ',"doc":' || doc_id || '}}' AS links_data,
       CASE WHEN length(concat_ws('; ', lang, source)) > 0
            THEN concat_ws('; ', lang, source) ELSE '-' END AS tags,
       lang || chr(10) || source AS comments
FROM documents
"""


# =====================================================================
# Similarity search: embeddings
# =====================================================================

def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id % 97 == 0)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, queries, k=5)


_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id % 97 = 0)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(q.qe, e.embedding::DOUBLE[]), 6) AS cosine,
         row_number() OVER (PARTITION BY q.query_id
           ORDER BY round(list_cosine_similarity(q.qe, e.embedding::DOUBLE[]), 6) DESC, e.vec_id ASC) AS rank
  FROM q CROSS JOIN embeddings e) WHERE rank <= 5
"""


def q_embedding_near_dups(spark, sf_dir):
    """Cosine >= 0.25 near-dup pairs over the vec_id%5==0 subset."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return dedup.embedding_near_dups(emb, "vec_id", "embedding", threshold=0.25)


_EMB_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
"""


#: LSH-ANN configuration shared by the Spark query, the SQL twin, and bench
LSH_ANN_TABLES = 3
LSH_ANN_PLANES = 4


def q_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (the 100 TB scale path): score only
    vectors sharing a random-hyperplane bucket with the query — Hamming-1
    multi-probe x 3 independent hash tables (the two standard recall
    levers composed), candidates deduplicated before exact scoring."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_ann_topk(
        emb, queries, k=5, n_planes=LSH_ANN_PLANES, dim=64, multi_probe=True,
        n_tables=LSH_ANN_TABLES,
    )


def _lsh_ann_sql(n_tables: int = LSH_ANN_TABLES, n_planes: int = LSH_ANN_PLANES) -> str:
    from ..operators.dedup import lsh_bucket_offset_sql

    bkts = ", ".join(
        f"{lsh_bucket_offset_sql('(embedding::DOUBLE[])', n_planes, 64, t)} AS bkt{t}"
        for t in range(n_tables)
    )
    v_tbs = ", ".join(f"'{t}:' || bkt{t}::VARCHAR" for t in range(n_tables))
    probes = []
    for t in range(n_tables):
        probes.append(f"'{t}:' || bkt{t}::VARCHAR")
        probes += [f"'{t}:' || xor(bkt{t}, {1 << p})::VARCHAR" for p in range(n_planes)]
    q_tbs = ", ".join(probes)
    return f"""
WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v, {bkts} FROM embeddings),
vstack AS (SELECT vec_id, unnest([{v_tbs}]) AS tb FROM eb),
qstack AS (SELECT vec_id AS query_id, unnest([{q_tbs}]) AS tb
           FROM eb WHERE vec_id % 97 = 0),
cand AS (SELECT DISTINCT q.query_id, v.vec_id FROM vstack v JOIN qstack q USING (tb))
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT c.query_id, c.vec_id,
         round(list_cosine_similarity(qe.v, e.v), 6) AS cosine,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY round(list_cosine_similarity(qe.v, e.v), 6) DESC, c.vec_id ASC) AS rank
  FROM cand c JOIN eb e ON c.vec_id = e.vec_id
  JOIN eb qe ON c.query_id = qe.vec_id) WHERE rank <= 5
"""


_LSH_ANN_SQL = _lsh_ann_sql()


#: IVF dials shared by the Spark query, the SQL twin, and bench.
#: probe/lists is held at 25% so the scan budget matches the original
#: 2-of-8 geometry; finer cells concentrate true neighbors better at the
#: SAME scan fraction.  Measured recall@5 with the seeded Lloyd's fit on
#: the sf0.1 corpus (2,000 isotropic vectors): 0.71 at 32/8, 0.85 at
#: 64/16, 0.90 at 128/32 — 64 lists clears the 0.8 bar while keeping the
#: centroid matrix (64x64 doubles) a trivial broadcast and the oracle's
#: VALUES list readable.  Centroid count is an offline-fit dial, not a
#: per-query cost: at 10^10 vectors n_lists is ~10^5 and cell assignment
#: stays a map-side broadcast argmax either way.
IVF_LISTS = 64
IVF_PROBE = 16
IVF_FIT_ITER = 3
IVF_FIT_SEED = 13
#: the SF the driver's DuckDB oracle runs against — the SQL twin inlines
#: centroids fitted from THIS dataset (SQL cannot run k-means; the fit is
#: deterministic, so query and oracle derive identical literals)
ORACLE_SF = __import__("os").environ.get(
    "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
)


def _ivf_centroids_for(sf_dir: str) -> list[list[float]]:
    """Seeded Lloyd's centroids for ``sf_dir``'s embeddings table, cached
    per path.  Driver-side numpy over a tiny (n x 64) sample — at corpus
    scale the fit runs on a uniform sample the same way; only the
    assignment of the full corpus lives in the Spark plan.  Rows are sorted
    by vec_id before fitting so the result is independent of file order."""
    import glob
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = os.path.abspath(sf_dir)
    if key in _IVF_CENT_CACHE:
        return _IVF_CENT_CACHE[key]
    p = os.path.join(sf_dir, "embeddings.parquet")
    files = sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p]
    tbl = pa.concat_tables(
        [pq.read_table(f, columns=["vec_id", "embedding"]) for f in files]
    )
    order = np.argsort(tbl["vec_id"].to_numpy(), kind="stable")
    vecs = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)[order]
    cents = similarity.fit_ivf_centroids(
        vecs, n_lists=IVF_LISTS, n_iter=IVF_FIT_ITER, seed=IVF_FIT_SEED
    )
    _IVF_CENT_CACHE[key] = cents
    return cents


_IVF_CENT_CACHE: dict[str, list[list[float]]] = {}


def q_ivf_ann_topk(spark, sf_dir):
    """IVF-ANN approximate top-k (the second standard scale path next to
    LSH): coarse-quantize the corpus into IVF_LISTS cosine Voronoi cells
    around centroids fitted by a deterministic seeded Lloyd's k-means
    (inlined as literals — no centroid join), probe the IVF_PROBE nearest
    cells per query (25% scan fraction), exact-score candidates only.
    Even on THIS corpus (synthetic isotropic embeddings: flat
    gram-eigenspectrum, mean pairwise cosine 0) recall at the fixed 25%
    scan fraction rises with cell granularity — see the measured curve at
    the IVF_LISTS definition; 64/16 holds recall@5 >= 0.85 at both bench
    SFs.  The centroid fit's lift over unfitted centroids is proven on
    clusterable data in
    tests/test_dedup_lsh.py::test_ivf_fitted_centroids_lift_recall.

    The corpus side reads the cell-MATERIALIZED scratch table
    (:func:`_ivf_cell_corpus`): cell assignment is an ingest-time cost,
    written once per (dataset, centroid fit) — round 4's plan recomputed
    the 64-cosine assignment on every query run, which regressed the wall
    3.43s -> 4.40s when lists went 8 -> 64 for recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_ann_topk(
        _ivf_cell_corpus(spark, sf_dir), queries, k=5,
        n_lists=IVF_LISTS, n_probe=IVF_PROBE,
        centroids=_ivf_centroids_for(sf_dir), cell_col="cell",
    )


def _ivf_cell_corpus(spark, sf_dir: str) -> DataFrame:
    """Read-or-build the cell-materialized embeddings corpus for ``sf_dir``
    — (vec_id, embedding, cell) with cell = argmax-cosine centroid id from
    the deterministic seeded fit.  Built ONCE per (dataset, IVF dials) into
    node-local scratch and reused by every subsequent q_ivf_ann_topk run;
    at rest the cell id is the vector table's cluster/partition key, so on
    a real lake this is the table itself, not a side artifact.  Embeddings
    round-trip parquet bit-exactly, so scores are unchanged."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(
        f"v1|{os.path.abspath(sf_dir)}|{IVF_LISTS}|{IVF_FIT_ITER}|{IVF_FIT_SEED}".encode()
    ).hexdigest()[:12]
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    path = os.path.join(base, f"spark_graft_ivf_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        similarity.assign_ivf_cells(
            _t(spark, sf_dir, "embeddings"), _ivf_centroids_for(sf_dir),
            cell_col="cell",
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _ivf_cent_values_sql() -> str:
    """VALUES rows of the fitted centroids for the oracle SF — repr floats
    round-trip to the identical doubles DuckDB-side (plane_weight pattern)."""
    try:
        cents = _ivf_centroids_for(ORACLE_SF)
    except Exception:  # oracle dataset absent: fall back to first-8 SQL fit
        return ""
    rows = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(cell, c)"


_IVF_CENT_SQL = _ivf_cent_values_sql() or f"""
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_LISTS})
"""

_IVF_ANN_SQL = f"""
WITH cent AS (
  {_IVF_CENT_SQL}
),
scored AS (
  SELECT e.vec_id, cent.cell,
         round(list_cosine_similarity(e.embedding::DOUBLE[], cent.c), 6) AS s
  FROM embeddings e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1
),
probes AS (
  SELECT query_id, cell FROM (
    SELECT vec_id AS query_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
    FROM scored WHERE vec_id % 97 = 0) WHERE rn <= {IVF_PROBE}
),
cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell))
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT c.query_id, c.vec_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine,
         row_number() OVER (PARTITION BY c.query_id
           ORDER BY round(list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN embeddings qe ON c.query_id = qe.vec_id) WHERE rank <= 5
"""


#: near-dup LSH dials: the query's cosine threshold (0.25, matching the
#: brute baseline) is a WEAK-similarity regime — hyperplane collision
#: probability per table is (1 - theta/pi)^planes, so recall at 75 degrees
#: needs few planes and several tables (planes=2 x tables=4 => ~0.81
#: analytic recall) at the cost of pruning power.  Production dup thresholds
#: (>=0.8 cosine) get both recall AND pruning from the same operator.
NEAR_DUP_PLANES = 2
NEAR_DUP_TABLES = 4


def q_embedding_near_dups_lsh(spark, sf_dir):
    """Bucketed near-dup pairs (the 100 TB path of embedding_near_dups):
    multi-table hyperplane-LSH candidate generation + exact cosine verify,
    over the same vec_id%5==0 subset and threshold as the brute baseline."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return dedup.embedding_near_dups_lsh(
        emb, "vec_id", "embedding", threshold=0.25,
        n_planes=NEAR_DUP_PLANES, dim=64, n_tables=NEAR_DUP_TABLES,
    )


def _emb_dup_lsh_sql(n_tables: int = NEAR_DUP_TABLES, n_planes: int = NEAR_DUP_PLANES) -> str:
    from ..operators.dedup import lsh_bucket_offset_sql

    bkts = ", ".join(
        f"{lsh_bucket_offset_sql('(embedding::DOUBLE[])', n_planes, 64, t)} AS bkt{t}"
        for t in range(n_tables)
    )
    tbs = ", ".join(f"'{t}:' || bkt{t}::VARCHAR" for t in range(n_tables))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {bkts}
           FROM embeddings WHERE vec_id % 5 = 0),
st AS (SELECT vec_id, unnest([{tbs}]) AS tb FROM e),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM st a JOIN st b ON a.tb = b.tb AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
  FROM cand JOIN e ea ON id_a = ea.vec_id JOIN e eb ON id_b = eb.vec_id)
WHERE cosine >= 0.25
"""


_EMB_DUP_LSH_SQL = _emb_dup_lsh_sql()


# =====================================================================
# Author merge (J4/A10): trust fold + optimal bipartite name matching
# =====================================================================

#: deterministic author-name pools for the J4/A10 oracle row (names are a
#: pure function of doc_id, so Spark and the python oracle generator build
#: byte-identical groups from the same documents table)
AUTHOR_SURNAMES = ["Smith", "Jones", "Garcia", "Chen", "Muller", "Rossi",
                   "Tanaka", "Kim", "Patel", "Novak", "Silva", "Dubois",
                   "Larsen", "Okafor", "Haddad", "Weber"]
AUTHOR_FIRSTS = ["John", "Maria", "Wei", "Anna", "Luca", "Yuki", "Omar", "Elena"]
AUTHOR_PRIO = {"crawl-a": 1.0, "publisher": 0.5}


def q_author_merge(spark, sf_dir):
    """J4/A10 end-to-end (reference authorMerger merger.py:133-153 +
    Kuhn-Munkres author_match.py:318-410): per document, a winner author
    block (full first names, some NULL affiliations) and a loser block
    (initials, affiliations present, REVERSED arrival order, plus one
    unmatchable extra author) — the trust fold picks the winner list, then
    optimal bipartite Levenshtein matching fills missing affiliations from
    matched losers at score >= 0.6.  The DuckDB twin is the expected output
    precomputed by the single-threaded reference-path matcher (SQL cannot
    run Hungarian), so this row validates the DISTRIBUTED composition —
    grouping, shuffle arrival order, applyInPandas wiring — against the
    sequential semantics."""
    from ..operators.enrich import author_merge

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    n_auth = (F.col("doc_id") % 3 + 2).cast("int")
    base = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("url"),
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_auth - 1)).alias("a"),
    )
    sur = F.element_at(
        F.array(*[F.lit(s) for s in AUTHOR_SURNAMES]),
        ((F.col("doc_id") + F.col("a")) % 16 + 1).cast("int"),
    )
    fir = F.element_at(
        F.array(*[F.lit(s) for s in AUTHOR_FIRSTS]),
        ((F.col("doc_id") * 3 + F.col("a")) % 8 + 1).cast("int"),
    )
    win = base.select(
        "url",
        F.lit("crawl-a").alias("origin"),
        F.lit(2).alias("modtime"),
        F.concat(sur, F.lit(", "), fir).alias("name"),
        F.when((F.col("doc_id") + F.col("a")) % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("Inst-"), ((F.col("doc_id") + F.col("a")) % 5).cast("string")))
        .alias("affiliation"),
        F.col("a").alias("author_pos"),
    )
    lose = base.select(
        "url",
        F.lit("publisher").alias("origin"),
        F.lit(1).alias("modtime"),
        F.concat(sur, F.lit(", "), F.substring(fir, 1, 1), F.lit(".")).alias("name"),
        F.concat(F.lit("PubInst-"), ((F.col("doc_id") + F.col("a")) % 7).cast("string")).alias("affiliation"),
        (F.lit(50) - F.col("a")).alias("author_pos"),  # reversed arrival order
    )
    extra = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("url"),
        F.lit("publisher").alias("origin"),
        F.lit(1).alias("modtime"),
        F.lit("Zzyx, Q.").alias("name"),
        F.lit("Nowhere").alias("affiliation"),
        F.lit(99).alias("author_pos"),
    )
    blocks = win.unionByName(lose).unionByName(extra)
    return author_merge(blocks, AUTHOR_PRIO, pos_col="author_pos")


def _author_merge_expected_sql() -> str:
    """Expected author_merge output for the oracle SF as a VALUES literal:
    the same deterministic groups, matched by the sequential
    _sim_matrix/optimal_match path (the single-threaded reference
    semantics; its optimality and the C1/C2 reference pair are covered by
    their own pytest goldens)."""
    import glob
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from ..operators.enrich import MERGE_BAIL, PAIR_ACCEPT, _sim_matrix, optimal_match

    p = os.path.join(ORACLE_SF, "documents.parquet")
    files = sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p]
    ids: list[int] = []
    for f in files:
        ids += pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()

    rows = []
    for d in sorted(i for i in ids if i % 17 == 0):
        n_auth = d % 3 + 2
        w, l_ = [], []
        for a in range(n_auth):
            sur = AUTHOR_SURNAMES[(d + a) % 16]
            fir = AUTHOR_FIRSTS[(d * 3 + a) % 8]
            aff = None if (d + a) % 2 == 0 else f"Inst-{(d + a) % 5}"
            w.append((a, f"{sur}, {fir}", aff))
            l_.append((50 - a, f"{sur}, {fir[0]}.", f"PubInst-{(d + a) % 7}"))
        l_.append((99, "Zzyx, Q.", "Nowhere"))
        w.sort()
        l_.sort()
        sim = _sim_matrix([n for _, n, _ in w], [n for _, n, _ in l_])
        matches = optimal_match(sim)
        scores = [s for *_, s in matches]
        out = [[n, aff, None] for _, n, aff in w]
        if scores and float(np.mean(scores)) >= MERGE_BAIL:
            for i, j, s in matches:
                if s >= PAIR_ACCEPT:
                    out[i][2] = s
                    if out[i][1] in (None, ""):
                        out[i][1] = l_[j][2]
        for name, aff, sc in out:
            rows.append((f"doc-{d}", name, aff, sc))

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    values = ", ".join(
        f"({lit(u)}, {lit(n)}, {lit(a)}, {lit(s)}::DOUBLE)" for u, n, a, s in rows
    )
    return (
        f"SELECT * FROM (VALUES {values}) AS t(url, name, affiliation, match_score)"
    )


try:
    _AUTHOR_MERGE_SQL = _author_merge_expected_sql()
except Exception:  # oracle dataset absent in this environment
    _AUTHOR_MERGE_SQL = None


# =====================================================================
# Multimodal plumbing + CDC flagship
# =====================================================================

def q_multimodal_decode(spark, sf_dir):
    """Binary media decode/featurize plumbing (mapInPandas; stubbed codec).
    The stub's dimensions are a pure function of the byte length, so the
    metadata projection has an exact SQL oracle."""
    from ..functions.multimodal import decode_and_featurize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = decode_and_featurize(docs, "doc_id", "payload")
    return out.select("doc_id", "media_type", "width", "height", "n_bytes")


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plumbing (mapInPandas UDTF-style fan-out: one
    payload -> N sampled frame rows).  Frame ids are a pure function of the
    payload length, so the fan-out shape has an exact SQL oracle."""
    from ..functions.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = frame_sample(docs, every_n=2, id_col="doc_id", payload_col="payload")
    return out.select("doc_id", "frame_idx")


_MULTIMODAL_FRAMES_SQL = """
WITH n AS (SELECT doc_id,
                  greatest(octet_length(encode(coalesce(text, ''))) % 10, 1) AS n_frames
           FROM documents)
SELECT doc_id, CAST(unnest(range(0, n_frames, 2)) AS INTEGER) AS frame_idx FROM n
"""


_MM_LEN = "octet_length(encode(coalesce(text, '')))"
_MULTIMODAL_SQL = f"""
SELECT doc_id, 'image' AS media_type,
       CAST({_MM_LEN} % 5 + 2 AS INTEGER) AS width,
       CAST({_MM_LEN} % 7 + 2 AS INTEGER) AS height,
       CAST({_MM_LEN} AS BIGINT) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------
# Flagship: CDC change stream derived deterministically from the shared
# `events` table (url/op/html are pure column functions of each event), so
# the whole pipeline — LWW dedup, delete handling, HTML->text extraction —
# has an exact DuckDB oracle.  The richer generator-based replay (hot-url
# skew, duplicate deliveries, resurrection attempts) is exercised
# end-to-end against the pure-Python oracle in tests/test_e2e_replay.py.
# ---------------------------------------------------------------------

def _change_body(uid_col, eid_col, props_col):
    """The synthesized HTML payload as a pure column function of
    (user_id, event_id, props) — shared by :func:`change_stream_from_events`
    and the winners-only synthesis in q_cdc_final_state, so both build the
    byte-identical body expression."""
    uid = uid_col.cast("string")
    eid = eid_col.cast("string")
    pr = F.coalesce(props_col, F.lit(""))
    return F.concat(
        F.lit("<html><head><title>u"), uid,
        F.lit("</title><style>p{color:red}</style></head><body><h1>Ev "), eid,
        F.lit("</h1><p>"), pr,
        F.lit(" &amp; payload "), F.md5(F.concat(uid, F.lit(":"), pr)),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )


def change_stream_from_events(spark, sf_dir) -> DataFrame:
    """Map the shared events table onto the CDC envelope: change events
    (upsert/delete) keyed by url, ordered by (warc_ts, log_offset), with a
    synthesized HTML payload (tags, entities, script/style noise)."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    body = _change_body(F.col("user_id"), F.col("event_id"), F.col("props"))
    return ev.select(
        F.concat(F.lit("https://site.test/"), uid).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("log_offset"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.encode(body, "utf-8").alias("html"),
        F.col("event_type").alias("lang"),
    )


_CHANGE_BODY_SQL = (
    "'<html><head><title>u' || user_id::VARCHAR || "
    "'</title><style>p{color:red}</style></head><body><h1>Ev ' || event_id::VARCHAR || "
    "'</h1><p>' || coalesce(props, '') || "
    "' &amp; payload ' || md5(user_id::VARCHAR || ':' || coalesce(props, '')) || "
    "'</p><script>var x=1;</script></body></html>'"
)

_CHANGE_CTE = f"""
changes AS (
  SELECT 'https://site.test/' || user_id::VARCHAR AS url,
         ts AS warc_ts,
         event_id AS log_offset,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         {_CHANGE_BODY_SQL} AS body,
         event_type AS lang
  FROM events)
"""


def q_cdc_final_state(spark, sf_dir):
    """Flagship: change stream -> LWW dedup -> delete filtering -> vectorized
    HTML->text extraction (md5 pins byte-identity per url).

    The envelope (url/op strings) and the HTML body are synthesized AFTER
    the LWW winnow, for winner rows only: url is a bijection of user_id
    (LWW per url == LWW per user_id) and the body is a pure function of
    (user_id, event_id, props), so the aggregation groups on a bigint key
    and its max_by struct carries ~60 B source columns instead of the
    ~1 KB payload — the byte-identical html is then built for ~1/80 of
    the rows (guide §2.3/§8: decide with small rows, build heavy payloads
    once).  No fan-out: for rows this narrow the round-robin exchange of
    the full log costs more than the single-split partial aggregation it
    parallelizes (measured 2.3s vs 1.0s at sf1.0)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "props"
    )
    winners = lww.lww_dedup(ev, key="user_id", order_cols=("ts", "event_id"))
    # op == 'delete' iff event_type == 'error'; NULL event_type maps to
    # 'upsert' (kept), matching both the pre-rewrite op column and the
    # oracle's CASE WHEN — a bare `event_type != 'error'` would drop NULLs
    final = winners.filter(
        ~F.coalesce(F.col("event_type") == "error", F.lit(False))
    )
    html = F.encode(
        _change_body(F.col("user_id"), F.col("event_id"), F.col("props")),
        "utf-8",
    )
    return final.select(
        F.concat(F.lit("https://site.test/"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("log_offset"),
        F.col("event_type").alias("lang"),
        F.md5(html_to_text(html)).alias("text_md5"),
    )


_CDC_FINAL_SQL = f"""
WITH {_CHANGE_CTE},
winners AS (
  SELECT url, warc_ts, log_offset, op, body, lang FROM (
    SELECT *, row_number() OVER (PARTITION BY url
      ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM changes) WHERE rn = 1)
SELECT url, warc_ts, log_offset, lang,
       md5({extract_text_sql('body')}) AS text_md5
FROM winners WHERE op <> 'delete'
"""


def q_cdc_apply_replay(spark, sf_dir):
    """END-TO-END apply-path check: replay the events-derived change log as
    one micro-batch through apply_batch into a fresh LakeTable (LWW dedup,
    tombstone audit, stale filter, copy-on-write commit), then read the
    committed final state back.  Same oracle shape as the flagship — the
    oracle verifies the *storage engine*, not just the expression.

    Deliberately NOT pre-winnowed: apply_batch's input contract is the raw
    change log (the bench replay feeds it one), and its two passes (the
    touched-bucket collect, which also carries the tombstone audit and
    lineage, and the winner rows) each re-read the simple scan with column
    pruning — measured cheaper than handing it an aggregated frame those
    passes would re-compute (r06)."""
    from ..apply import apply_batch, pages_schema_for
    from ..lake.table import LakeTable

    changes = change_stream_from_events(spark, sf_dir)
    root = _scratch_dir(q_cdc_apply_replay, "cdc-apply-oracle-")
    # 8 buckets: the oracle SF's change stream is tiny, so bucket count only
    # adds fixed per-file cost here (the bench measures real geometry)
    table = LakeTable.create(
        spark, root, pages_schema_for(changes.schema), n_buckets=8
    )
    apply_batch(table, changes, batch_id=0)
    final = table.read()
    return final.select(
        "url", "warc_ts", "log_offset", "lang", F.md5(F.col("text")).alias("text_md5")
    )


def q_snapshot_changelog(spark, sf_dir):
    """Lake-as-CDC-source check: apply the events-derived change log in TWO
    micro-batches (deterministic prefix split at max(log_offset)//2), then
    read the row-level changelog BETWEEN the two committed snapshots via
    LakeTable.read_changes (Delta CDF / Iceberg changelog-scan analog).
    The oracle recomputes both endpoint LWW states in SQL and classifies
    insert/update/delete with a full-outer join — so one row verifies both
    the incremental apply path (batch 2's stale-filter + tombstone-guard
    semantics against batch 1's COMMITTED state, not a single-batch replay)
    and the snapshot-diff changelog reader."""
    from ..apply import apply_batch, pages_schema_for
    from ..lake.table import LakeTable

    changes = change_stream_from_events(spark, sf_dir)
    cut = changes.agg(F.max("log_offset")).first()[0] // 2  # one scalar
    root = _scratch_dir(q_snapshot_changelog, "cdc-changelog-oracle-")
    table = LakeTable.create(
        spark, root, pages_schema_for(changes.schema), n_buckets=8
    )
    apply_batch(table, changes.filter(F.col("log_offset") <= cut), batch_id=0)
    v_from = table.current_version()
    apply_batch(table, changes.filter(F.col("log_offset") > cut), batch_id=1)
    v_to = table.current_version()
    ch = table.read_changes(v_from, v_to)
    return ch.select(
        "url",
        F.col("_change_type").alias("change_type"),
        "warc_ts",
        "log_offset",
        "lang",
        F.md5(F.col("text")).alias("text_md5"),
    )


def q_time_slice_read(spark, sf_dir):
    """Storage data-skipping check: apply the events-derived change log in
    two micro-batches into a LakeTable that records per-file warc_ts
    [min, max] manifest metrics (stats_cols), then read a deterministic
    mid-window time slice via read_range — the stats-pruned scan that at
    100 TB reads only the commits overlapping the window.  The oracle
    recomputes the LWW final state in SQL and applies the identical
    window predicate, so the row verifies that file skipping by manifest
    bounds never changes results (bounds prune I/O, the exact predicate
    decides membership)."""
    from ..apply import apply_batch, pages_schema_for
    from ..lake.table import LakeTable

    changes = change_stream_from_events(spark, sf_dir)
    cut = changes.agg(F.max("log_offset")).first()[0]

    root = _scratch_dir(q_time_slice_read, "cdc-timeslice-oracle-")
    table = LakeTable.create(
        spark, root, pages_schema_for(changes.schema), n_buckets=8,
        stats_cols=["warc_ts"],
    )
    half = cut // 2
    apply_batch(table, changes.filter(F.col("log_offset") <= half), batch_id=0)
    apply_batch(table, changes.filter(F.col("log_offset") > half), batch_id=1)
    # window bound: the ⌊n/2⌋-th smallest warc_ts of the final state — a
    # VALUE, so ties at the boundary resolve identically under any sort
    # order; the oracle computes the same discrete quantile in SQL.  (A
    # span-fraction window is empty here: LWW winners cluster at the tail
    # of event time.)  Two bounded scalar actions, oracle-SF only.
    final = table.read()
    n = final.count()
    k = max(1, n // 2)
    hi = (
        final.select("warc_ts").orderBy("warc_ts").limit(k)
        .agg(F.max("warc_ts")).first()[0]
    )
    sliced = table.read_range("warc_ts", hi=hi)
    return sliced.select(
        "url", "warc_ts", "log_offset", "lang",
        F.md5(F.col("text")).alias("text_md5"),
    )


_TIME_SLICE_SQL = f"""
WITH {_CHANGE_CTE},
winners AS (
  SELECT url, warc_ts, log_offset, body, lang FROM (
    SELECT *, row_number() OVER (PARTITION BY url
      ORDER BY warc_ts DESC, log_offset DESC) AS rn FROM changes)
  WHERE rn = 1 AND op <> 'delete'),
w AS (
  SELECT max(warc_ts) AS hi FROM (
    SELECT warc_ts, row_number() OVER (ORDER BY warc_ts) AS rnk,
           count(*) OVER () AS n FROM winners)
  WHERE rnk <= greatest(n // 2, 1))
SELECT url, warc_ts, log_offset, lang,
       md5({extract_text_sql('body')}) AS text_md5
FROM winners, w WHERE warc_ts <= hi
"""


_CHANGELOG_STATE_SQL = """
  SELECT url, warc_ts, log_offset, lang, md5({text_expr}) AS text_md5 FROM (
    SELECT *, row_number() OVER (PARTITION BY url
      ORDER BY warc_ts DESC, log_offset DESC) AS rn
    FROM changes {where}) WHERE rn = 1 AND op <> 'delete'
"""

_SNAPSHOT_CHANGELOG_SQL = f"""
WITH {_CHANGE_CTE},
cut AS (SELECT max(event_id) // 2 AS c FROM events),
s1 AS ({_CHANGELOG_STATE_SQL.format(
    text_expr=extract_text_sql('body'),
    where='WHERE log_offset <= (SELECT c FROM cut)')}),
s2 AS ({_CHANGELOG_STATE_SQL.format(
    text_expr=extract_text_sql('body'), where='')})
SELECT coalesce(s2.url, s1.url) AS url,
       CASE WHEN s1.url IS NULL THEN 'insert'
            WHEN s2.url IS NULL THEN 'delete'
            ELSE 'update_postimage' END AS change_type,
       CASE WHEN s2.url IS NULL THEN s1.warc_ts ELSE s2.warc_ts END AS warc_ts,
       CASE WHEN s2.url IS NULL THEN s1.log_offset ELSE s2.log_offset END
         AS log_offset,
       CASE WHEN s2.url IS NULL THEN s1.lang ELSE s2.lang END AS lang,
       CASE WHEN s2.url IS NULL THEN s1.text_md5 ELSE s2.text_md5 END
         AS text_md5
FROM s1 FULL OUTER JOIN s2 ON s1.url = s2.url
WHERE s1.url IS NULL OR s2.url IS NULL OR s1.log_offset <> s2.log_offset
   OR s1.warc_ts <> s2.warc_ts OR s1.text_md5 <> s2.text_md5
   OR coalesce(s1.lang, '') <> coalesce(s2.lang, '')
"""


# =====================================================================
# combined suites (driver-registry width control)
# =====================================================================
# The driver records at most the FIRST 50 registry rows; round 4's last 8
# rows (the whole ANN suite + author_merge) never reached the official
# correctness record.  These three suites compute the SAME expressions as
# the individual scalar/textstat rows they subsume — value-level oracle
# evidence per operator is preserved, one row instead of four-to-six.
# The individual q_* functions stay exported (bench timings + tests).


def q_scalar_suite_docs(spark, sf_dir):
    """Combined documents-side ragged-scalar suite — one oracle row for
    F4 ensureList (enforce_schema.py:40-43), F5 ensureLanguageSchema
    (enforce_schema.py:21-38), F7 bibstem_mapper (solr_adapter.py:752-776)
    and F9 type mappers (solr_adapter.py:658-705).  Column-for-column the
    union of q_ensure_list / q_language_schema / q_host_stem_map /
    q_source_class_map, evaluated in a single projection."""
    from ..functions.scalars import (
        ensure_language_schema,
        ensure_list,
        host_stem_mapper,
        source_class_mapper,
    )

    docs = _t(spark, sf_dir, "documents")
    # F4 twin columns (q_ensure_list)
    scalar = F.when(F.col("doc_id") % 3 == 0, F.col("lang"))
    arr = F.when(F.col("doc_id") % 3 == 1, F.array(F.col("lang"), F.col("source")))
    el = ensure_list(scalar, arr)
    # F5 ragged structs (q_language_schema)
    plain = F.when(F.col("doc_id") % 2 == 0, F.col("text"))
    structs = F.when(
        F.col("doc_id") % 2 != 0,
        F.array(
            F.struct(F.col("lang").alias("at_lang"), F.col("source").alias("hash_text")),
            F.struct(
                F.lit(None).cast("string").alias("at_lang"),
                F.col("text").alias("hash_text"),
            ),
        ),
    )
    ls = ensure_language_schema(plain, structs)
    # F7 host stems (q_host_stem_map)
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("www."))
        .when(F.col("doc_id") % 7 == 0, F.lit("m."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
    )
    short, long = host_stem_mapper(host)
    return docs.select(
        "doc_id",
        F.size(el).cast("int").alias("n_values"),
        F.array_join(el, "|").alias("values"),
        F.array_join(
            F.transform(ls, lambda s: F.coalesce(s["lang"], F.lit("<NULL>"))), "|"
        ).alias("langs"),
        F.array_join(
            F.transform(ls, lambda s: F.coalesce(s["text"], F.lit("<NULL>"))), "|"
        ).alias("texts"),
        short.alias("short_stem"),
        long.alias("long_stem"),
        "source",
        source_class_mapper(F.col("source")).alias("source_class"),
    )


_SCALAR_SUITE_DOCS_SQL = f"""
SELECT doc_id,
       len({_ENSURE_LIST_NORM})::INT AS n_values,
       coalesce(array_to_string({_ENSURE_LIST_NORM}, '|'), '') AS values,
       array_to_string(list_transform({_LANG_SCHEMA_NORM},
                                      s -> coalesce(s.lang, '<NULL>')), '|') AS langs,
       array_to_string(list_transform({_LANG_SCHEMA_NORM},
                                      s -> coalesce(s.text, '<NULL>')), '|') AS texts,
       {_HOST_SHORT_SQL} AS short_stem,
       {_HOST_LONG_SQL} AS long_stem,
       source,
       {source_class_mapper_sql('source')} AS source_class
FROM documents
"""


def q_scalar_suite_events(spark, sf_dir):
    """Combined events-side scalar-normalization suite — one oracle row for
    F1/F2 parseDate with all quirks (enforce_schema.py:55-83), F3 parseBool
    and F15 midnight day-shift (solr_adapter.py:283-300).  Column-for-column
    the union of q_scalar_normalize / q_parse_date_multi."""
    from ..functions.scalars import parse_date_multi

    ev = _t(spark, sf_dir, "events")
    dstr = F.substring(F.col("ts").cast("string"), 1, 10)
    mstr = F.concat(F.substring(F.col("ts").cast("string"), 1, 7), F.lit("-01"))
    datestr = (
        F.when(F.col("event_id") % 7 == 0, F.lit("1880-05"))
        .when(F.col("event_id") % 5 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
        .when(F.col("event_id") % 5 == 1, F.date_format("ts", "yyyy-MM-dd"))
        .when(F.col("event_id") % 5 == 2, F.date_format("ts", "yyyy-MM"))
        .when(F.col("event_id") % 5 == 3, F.date_format("ts", "yyyy"))
        .otherwise(F.concat(F.date_format("ts", "yyyy"), F.lit("-00")))
    )
    return ev.select(
        "event_id",
        F.to_timestamp(dstr).alias("parsed_date"),
        F.to_timestamp(mstr).alias("parsed_month"),
        (F.col("value") > 50).alias("flag"),
        F.when(F.hour("ts") == 0, F.col("ts") + F.expr("INTERVAL 1 DAY")).otherwise(F.col("ts")).alias("entry_date"),
        datestr.alias("datestr"),
        parse_date_multi(datestr).alias("solr_date"),
    )


_SCALAR_SUITE_EVENTS_SQL = f"""
WITH d AS (SELECT *, {_DATESTR_SQL} AS datestr FROM events)
SELECT event_id,
       CAST(substr(ts::VARCHAR, 1, 10) AS TIMESTAMP) AS parsed_date,
       CAST(substr(ts::VARCHAR, 1, 7) || '-01' AS TIMESTAMP) AS parsed_month,
       value > 50 AS flag,
       CASE WHEN extract(hour FROM ts) = 0 THEN ts + INTERVAL 1 DAY ELSE ts END AS entry_date,
       datestr,
       {parse_date_multi_sql('datestr')} AS solr_date
FROM d
"""


def q_doc_textstats(spark, sf_dir):
    """Combined text-analysis suite over documents — one oracle row for
    language-ID (stopword-marker argmax), quality scoring, whitespace +
    BPE-ish token counting and the content fingerprint / portable 63-bit
    hash.  Column-for-column the union of q_doc_lang_id / q_doc_quality /
    q_doc_token_count / q_doc_fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        lang_id("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        content_fingerprint("text").alias("fingerprint"),
        portable_hash(F.col("text")).alias("hash63"),
    )


_DOC_TEXTSTATS_SQL = f"""
SELECT doc_id,
       {lang_id_sql('text')} AS lang_pred,
       {quality_score_sql('text')} AS quality,
       {token_count_sql('text')}::BIGINT AS n_tokens,
       {bpe_ish_token_count_sql('text')}::BIGINT AS n_bpe_tokens,
       {content_fingerprint_sql('text')} AS fingerprint,
       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS hash63
FROM documents
"""


# =====================================================================
# registry
# =====================================================================

# NOTE on dict order: the driver iterates queries() in insertion order and
# may truncate on budget — in round 3 the three TAIL entries (the flagship
# among them!) were the ones missing from the official record.  The
# flagship, the storage-path replay and the previously-dropped rows
# therefore come FIRST; everything else keeps its order.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_final_state": q_cdc_final_state,
    "cdc_apply_replay": q_cdc_apply_replay,
    "snapshot_changelog": q_snapshot_changelog,
    "time_slice_read": q_time_slice_read,
    "multimodal_frames": q_multimodal_frames,
    "lww_latest": q_lww_latest,
    "lww_latest_salted": q_lww_latest_salted,
    "lww_latest_window": q_lww_latest_window,
    "lww_latest_semi": q_lww_latest_semi,
    "changed_records": q_changed_records,
    "new_records": q_new_records,
    "orphaned_records": q_orphaned,
    "deletion_cap": q_deletion_cap,
    "tombstone_guard": q_tombstone_guard,
    "fingerprint_agg": q_fingerprint_agg,
    "origin_trust_merge": q_origin_trust_merge,
    "record_merge": q_record_merge,
    "merge_text": q_merge_text,
    "ensure_list": q_ensure_list,
    "take_all": q_take_all,
    "take_all_by_priority": q_take_all_by_priority,
    "boolean_merge": q_boolean_merge,
    "references_merge": q_references_merge,
    "block_grouping": q_block_grouping,
    "publication_split": q_publication_split,
    "first_writer_wins": q_first_writer_wins,
    "top2_per_type": q_top2_per_type,
    "identifier_union": q_identifier_union,
    "scalar_normalize": q_scalar_normalize,
    "scalar_suite_docs": q_scalar_suite_docs,
    "scalar_suite_events": q_scalar_suite_events,
    "doc_textstats": q_doc_textstats,
    "parse_date_multi": q_parse_date_multi,
    "language_schema": q_language_schema,
    "host_stem_map": q_host_stem_map,
    "source_class_map": q_source_class_map,
    "positional_zip": q_positional_zip,
    "typed_element_filter": q_typed_element_filter,
    "canonical_fingerprints": q_canonical_fingerprints,
    "output_projection": q_output_projection,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "semi_join_lookup": q_semi_join_lookup,
    "doc_fingerprint_groups": q_doc_fingerprint_groups,
    "doc_minhash_sigs": q_doc_minhash_sigs,
    "doc_minhash_pairs": q_doc_minhash_pairs,
    "incremental_lsh_pairs": q_incremental_lsh_pairs,
    "doc_dup_clusters": q_doc_dup_clusters,
    "doc_dedup_survivors": q_doc_dedup_survivors,
    "doc_simhash": q_doc_simhash,
    "doc_simhash_groups": q_doc_simhash_groups,
    "doc_simhash_pairs": q_doc_simhash_pairs,
    "lsh_bucket_audit": q_lsh_bucket_audit,
    "doc_lang_id": q_doc_lang_id,
    "doc_quality": q_doc_quality,
    "doc_token_count": q_doc_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "ann_topk": q_ann_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "author_merge": q_author_merge,
    "multimodal_decode": q_multimodal_decode,
}

ORACLES: dict[str, str] = {
    "lww_latest": _LWW_SQL,
    "lww_latest_salted": _LWW_SQL,
    "lww_latest_window": _LWW_SQL,
    "lww_latest_semi": _LWW_SQL,
    "changed_records": _CHANGED_SQL,
    "new_records": _NEW_SQL,
    "orphaned_records": _ORPHANED_SQL,
    "deletion_cap": _DELETION_CAP_SQL,
    "tombstone_guard": _TOMBSTONE_SQL,
    "fingerprint_agg": _FP_AGG_SQL,
    "origin_trust_merge": _ORIGIN_TRUST_SQL,
    "record_merge": _RECORD_MERGE_SQL,
    "merge_text": _MERGE_TEXT_SQL,
    "ensure_list": _ENSURE_LIST_SQL,
    "take_all": _TAKE_ALL_SQL,
    "take_all_by_priority": _TAKE_ALL_PRIO_SQL,
    "boolean_merge": _BOOL_SQL,
    "references_merge": _REFS_SQL,
    "block_grouping": _BLOCK_SQL,
    "publication_split": _PUB_SPLIT_SQL,
    "first_writer_wins": _FIRST_WINS_SQL,
    "top2_per_type": _TOP2_SQL,
    "identifier_union": _IDENT_UNION_SQL,
    "scalar_normalize": _SCALAR_SQL,
    "scalar_suite_docs": _SCALAR_SUITE_DOCS_SQL,
    "scalar_suite_events": _SCALAR_SUITE_EVENTS_SQL,
    "doc_textstats": _DOC_TEXTSTATS_SQL,
    "parse_date_multi": _PARSE_DATE_SQL,
    "language_schema": _LANG_SCHEMA_SQL,
    "host_stem_map": _HOST_STEM_SQL,
    "source_class_map": _SOURCE_CLASS_SQL,
    "positional_zip": _POSITIONAL_ZIP_SQL,
    "typed_element_filter": _TYPED_FILTER_SQL,
    "canonical_fingerprints": _CANON_FP_SQL,
    "output_projection": _OUTPUT_PROJ_SQL,
    "pricing_summary": _Q1_SQL,
    "top_revenue_orders": _Q3_SQL,
    "semi_join_lookup": _SEMI_SQL,
    "doc_fingerprint_groups": _EXACT_DUP_SQL,
    "doc_minhash_sigs": _MINHASH_SIGS_SQL,
    "doc_minhash_pairs": _MINHASH_PAIRS_SQL,
    "incremental_lsh_pairs": _MINHASH_PAIRS_SQL,
    "doc_dup_clusters": _DUP_CLUSTERS_SQL,
    "doc_dedup_survivors": _DEDUP_SURVIVORS_SQL,
    "doc_simhash": _simhash_sql(16),
    "doc_simhash_groups": _SIMHASH_GROUPS_SQL,
    "doc_simhash_pairs": _SIMHASH_PAIRS_SQL,
    "lsh_bucket_audit": _LSH_AUDIT_SQL,
    "doc_lang_id": _LANG_SQL,
    "doc_quality": _QUALITY_SQL,
    "doc_token_count": _TOKENS_SQL,
    "doc_fingerprint": _DOC_FP_SQL,
    "ann_topk": _ANN_SQL,
    "embedding_near_dups": _EMB_DUP_SQL,
    "embedding_near_dups_lsh": _EMB_DUP_LSH_SQL,
    "lsh_ann_topk": _LSH_ANN_SQL,
    "ivf_ann_topk": _IVF_ANN_SQL,
    "multimodal_decode": _MULTIMODAL_SQL,
    "multimodal_frames": _MULTIMODAL_FRAMES_SQL,
    "cdc_final_state": _CDC_FINAL_SQL,
    "cdc_apply_replay": _CDC_FINAL_SQL,
    "snapshot_changelog": _SNAPSHOT_CHANGELOG_SQL,
    "time_slice_read": _TIME_SLICE_SQL,
}
if _AUTHOR_MERGE_SQL is not None:
    ORACLES["author_merge"] = _AUTHOR_MERGE_SQL


# ---------------------------------------------------------------------
# driver-facing registry: the correctness gate records at most the FIRST
# 50 rows of __spark_entry__.queries().  QUERIES above stays the full
# superset (bench timings + tests use it); this list is what the driver
# sees — 49 rows, every §2 operator still value-checked:
#   - the 8 rows orphaned in rounds 3-4 (ANN suite, author_merge,
#     multimodal_decode, doc_fingerprint-as-textstats) lead;
#   - lww_latest_salted / lww_latest_semi are physical-strategy variants
#     of lww_latest (identical oracle SQL) — pytest-covered, off-record;
#   - six scalar one-liner rows are folded into scalar_suite_docs /
#     scalar_suite_events, four textstat rows into doc_textstats
#     (same expressions, same tables, one row each).
DRIVER_REGISTRY: list[str] = [
    # previously-orphaned rows first
    "author_merge",
    "ann_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "embedding_near_dups",
    "embedding_near_dups_lsh",
    "multimodal_decode",
    "doc_textstats",
    # flagship + storage path
    "cdc_final_state",
    "cdc_apply_replay",
    "snapshot_changelog",
    "time_slice_read",
    "multimodal_frames",
    # CDC / merge operator rows (lww_latest_window/_salted/_semi stay in
    # QUERIES + tests; one registry row covers the LWW contract)
    "lww_latest",
    "changed_records",
    "new_records",
    "orphaned_records",
    "deletion_cap",
    "tombstone_guard",
    "fingerprint_agg",
    "origin_trust_merge",
    "record_merge",
    "merge_text",
    "take_all",
    "take_all_by_priority",
    "boolean_merge",
    "references_merge",
    "block_grouping",
    "publication_split",
    "first_writer_wins",
    "top2_per_type",
    "identifier_union",
    "scalar_suite_events",
    "scalar_suite_docs",
    "positional_zip",
    "typed_element_filter",
    "canonical_fingerprints",
    "output_projection",
    "pricing_summary",
    "top_revenue_orders",
    "semi_join_lookup",
    # dedup suite
    "doc_fingerprint_groups",
    "doc_minhash_sigs",
    "doc_minhash_pairs",
    "incremental_lsh_pairs",
    "doc_dup_clusters",
    "doc_dedup_survivors",
    # doc_simhash (raw signatures) stays in QUERIES + tests; the _groups
    # and _pairs rows consume the same signature expression end-to-end
    "doc_simhash_groups",
    "doc_simhash_pairs",
    "lsh_bucket_audit",
]

assert len(DRIVER_REGISTRY) <= 50, "driver records only the first 50 rows"
assert set(DRIVER_REGISTRY) <= set(QUERIES), sorted(
    set(DRIVER_REGISTRY) - set(QUERIES)
)
