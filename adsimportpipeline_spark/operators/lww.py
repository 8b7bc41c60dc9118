"""Last-writer-wins deduplication — the engine's central operator.

Reference semantics: ``equalTrustFallback`` (merger.py:320-339) resolves
equal-priority blocks by latest modtime, then content length, then arbitrary
order — a LWW cascade.  ``_getBestOrigin`` folds blocks to a single winner
(merger.py:286-318).  Collapsed onto the CDC envelope this is: one winner per
``url`` ordered by ``(warc_ts, log_offset)``.

Three physical strategies, all producing identical results:

- :func:`lww_dedup` — hash-aggregate ``max_by(struct(payload), struct(order))``.
  **Default.** Partial (map-side) aggregation makes it skew-resilient by
  construction: a hot url is pre-reduced to one row per input partition
  before the shuffle, so no single reducer ever sees the hot url's full
  event list.  This is the plan that survives 100 TB.
- :func:`lww_dedup_salted` — *explicit* two-phase salting (north_rule
  requires explicit hot-key splitting): pre-reduce per ``(url, salt)``,
  then final reduce per ``url``.  Two shuffles, but the first is uniform.
  Useful when the payload is too wide for efficient partial agg structs.
- :func:`lww_dedup_window` — ``row_number() over (partitionBy(url)
  orderBy ... desc) == 1``.  The literal translation of reference W5;
  kept for cross-checking — a window sorts the whole group, so it is the
  *worst* plan under skew and not used in the apply path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: LWW ordering: event time first, log offset as the tie-break
DEFAULT_ORDER = ("warc_ts", "log_offset")

#: Row cap on a broadcast LWW join side (:func:`bounded_broadcast`), a proxy
#: for bytes: a (key, order-struct) row is ~50-100 B, so 4M rows keep the
#: replicated table in the low hundreds of MB — inside a default-sized
#: executor and of the same order as a generous
#: ``spark.sql.autoBroadcastJoinThreshold``.  Raise it only with the
#: executor memory to match.
BROADCAST_MAX_KEYS = 4_000_000

#: Most parquet footers :func:`_metadata_row_upper_bound` reads; past it the
#: bound is unknown, because reading that many footers is itself expensive.
METADATA_MAX_FILES = 1024

_FILE_PARTITION = "org.apache.spark.sql.execution.datasources.FilePartition"


def _scan_leaf(df: DataFrame, filters: bool = True):
    """The leaf of ``df``'s analyzed plan (a py4j handle) when it is ONE
    file-relation leaf with only row-preserving-or-reducing nodes
    (Project/Filter/alias) above it, else None.  A join, explode/generate,
    or self-union would make ``inputFiles()`` an invalid row-count proxy
    (Spark dedupes the file list; a join multiplies rows), so footer
    arithmetic is only trusted on this shape.  With ``filters=False`` a
    Filter fails the shape too: only row-preserving nodes may sit above
    the leaf."""
    allowed_inner = {"Project", "SubqueryAlias", "ResolvedHint", "View"}
    if filters:
        allowed_inner.add("Filter")
    allowed_leaf = {"LogicalRelation", "Relation", "RelationV2", "LogicalRDD"}
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            ch = node.children()
            n = ch.size()
            if n == 0:
                return node if node.nodeName() in allowed_leaf else None
            # every allowed inner node is unary
            if n > 1 or node.nodeName() not in allowed_inner:
                return None
            node = ch.apply(0)
    except Exception:
        return None


def _is_simple_scan(df: DataFrame) -> bool:
    """True iff ``df`` has the plan shape :func:`_scan_leaf` accepts."""
    return _scan_leaf(df) is not None


def _metadata_row_upper_bound(df: DataFrame, exact: bool = False) -> int | None:
    """Upper bound on ``df``'s row count from parquet footers alone (no data
    scan, no job).  None when the frame is not a plain parquet file scan or
    listing the footers would itself be expensive — callers must treat None
    as "unknown, measure instead".  Filters applied on top of the scan only
    make the true count smaller, so the bound stays valid.  The plan shape
    is validated first: for a join / generate / self-union, ``inputFiles()``
    under-counts (files dedupe; joins multiply rows), so those shapes
    return None rather than a bogus bound.

    A ``LogicalRDD`` leaf (every ``foreachBatch`` batch, whose
    ``inputFiles()`` is ``[]``) names its files in its RDD's partitions,
    read when every partition is a ``FilePartition``; a file split across
    partitions counts at its ``start() == 0`` piece.  Such a leaf hides the
    plan that made its RDD, so there the bound assumes the stream has no
    row-multiplying node (explode, join) before the sink.  A stream with a
    shuffle or a union has partitions that are not ``FilePartition``s and
    gets None.

    ``exact=True`` returns the count only where it is the frame's row count
    and None otherwise: a Filter above the leaf, or on a ``LogicalRDD`` a
    constraint carried over from the stream's plan (a deterministic filter
    before the sink leaves one), gives None.  A non-deterministic filter in
    the stream leaves no constraint; the count is then too high.
    ``apply_batch`` skips its discovery query only on an exact count large
    enough that the batch is expected to touch every bucket, so a filtered
    batch always runs discovery, and an undercount only makes it run
    discovery."""
    leaf = _scan_leaf(df, filters=not exact)
    if leaf is None:
        return None
    try:
        if leaf.nodeName() != "LogicalRDD":
            files = df.inputFiles()
        else:
            if exact and not leaf.constraints().isEmpty():
                return None
            files = []
            for part in leaf.rdd().partitions():
                if part.getClass().getName() != _FILE_PARTITION:
                    return None
                files += [f.filePath().urlEncoded() for f in part.files() if f.start() == 0]
                if len(files) > METADATA_MAX_FILES:
                    return None
    except Exception:
        return None
    if not files or len(files) > METADATA_MAX_FILES:
        return None
    try:
        import urllib.parse

        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if ".parquet" not in f and not f.endswith(".pq"):
                return None
            p = urllib.parse.urlparse(f)
            path = urllib.parse.unquote(p.path) if p.scheme in ("file", "") else None
            if path is None:
                return None  # non-local URI: footer read may be a remote call
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


def _offset_broadcast_cap_rows(spark, max_rows: int) -> int:
    """How many 8-byte offset rows fit the broadcast budget: the tighter of
    ``spark.sql.autoBroadcastJoinThreshold`` (bytes / 8) and the caller's
    explicit row cap — a caller sizing for small executors must never be
    silently overridden upward.  A non-positive threshold means the user
    disabled broadcast joins: return 0 (gate off, no forced broadcasts)."""
    raw = None
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    except Exception:
        pass
    try:
        s = str(raw).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
            if s.endswith(suf):
                s, mult = s[: -len(suf)], m
                break
        thr_bytes = int(float(s)) * mult
    except Exception:
        thr_bytes = 10 << 20
    if thr_bytes <= 0:
        return 0
    return min(thr_bytes // 8, max_rows)


def _order_struct(order_cols: tuple[str, ...]):
    return F.struct(*[F.col(c) for c in order_cols])


def lww_dedup(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """One winner row per key via max_by — associative, partial-agg friendly."""
    payload = [c for c in df.columns if c != key]
    winner = F.max_by(F.struct(*payload), _order_struct(order_cols)).alias("w")
    out = df.groupBy(key).agg(winner)
    return out.select(key, *[F.col(f"w.{c}").alias(c) for c in payload])


def lww_dedup_salted(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    n_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase skew splitting: (key, salt) pre-reduce, key reduce.

    Salt is derived from the *ordering* column so duplicates of one hot key
    spread uniformly over ``n_salts`` reducers; the second phase then sees at
    most ``n_salts`` rows per key.  Safe because max is associative.
    """
    payload = [c for c in df.columns if c != key]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_salts))
    pre = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.max_by(F.struct(*payload), _order_struct(order_cols)).alias("w"))
        .select(key, *[F.col(f"w.{c}").alias(c) for c in payload])
    )
    return lww_dedup(pre, key=key, order_cols=order_cols)


def bounded_broadcast(small: DataFrame) -> DataFrame:
    """THE broadcast rule for the small side of an LWW join: hint a
    broadcast iff its row count fits the budget
    (:func:`_offset_broadcast_cap_rows` of :data:`BROADCAST_MAX_KEYS`),
    else a shuffled hash join.

    The frame is persisted and counted, and the exact count decides.  The
    cache is dropped right after the count (the plan keeps the lineage;
    worst case the join re-runs the narrow aggregate).  (Collecting the
    offsets to the driver as Arrow and re-creating a local DataFrame
    instead left every core idle for >1 s per batch at 4 cores.)
    Deferring the choice to AQE instead would be too late — AQE submits
    both shuffle stages of a sort-merge join before converting it, so the
    full payload shuffle gets WRITTEN even when the runtime stats would
    have chosen broadcast (measured: an avoidable 1.3 GB write + read per
    8M-event batch)."""
    cap = _offset_broadcast_cap_rows(small.sparkSession, BROADCAST_MAX_KEYS)
    if cap <= 0:
        return small.hint("shuffle_hash")
    from pyspark.storagelevel import StorageLevel

    small = small.persist(StorageLevel.MEMORY_AND_DISK)
    n = small.count()
    small.unpersist()
    if n <= cap:
        return F.broadcast(small)
    return small.hint("shuffle_hash")


def lww_winner_rows(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """Payload-light LWW core: argmax over the ordering keys only, then fetch
    the winning rows back with a semi-join.  Returns each key's winning rows
    INCLUDING exact duplicate deliveries of the winner (rows sharing the
    max (key, order_cols)); use :func:`lww_dedup_semi` for one row per key.

    The default :func:`lww_dedup` shuffles every event's full payload (html
    blobs!); this variant shuffles only ``(key, order_cols)`` (~40 bytes/row)
    to find each key's winning version, then joins the winner keys back to
    the unshuffled events — the payload of losers never crosses the wire.
    On a memory-bandwidth-bound node this is ~10x less data movement; at
    cluster scale it is the difference between shuffling 100 TB and
    shuffling 400 GB.

    The join strategy is :func:`bounded_broadcast`'s: it measures the
    winner keys and decides, so a bulk replay with 10^9 distinct keys still
    takes the shuffled path — no driver OOM.
    """
    order_struct = _order_struct(order_cols)
    keys = bounded_broadcast(df.groupBy(key).agg(F.max(order_struct).alias("_w")))
    return df.join(keys, key).filter(order_struct == F.col("_w")).drop("_w")


def lww_dedup_semi(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """:func:`lww_winner_rows` + collapse of exact duplicate deliveries
    (rows sharing (key, order_cols) are identical payloads by the log's
    offset-uniqueness, so any winner among them is THE winner).

    Callers that already need a payload shuffle downstream should take
    :func:`lww_winner_rows` and fold the duplicate-collapse into that
    shuffle instead of paying this one.
    """
    matched = lww_winner_rows(df, key=key, order_cols=order_cols)
    return lww_dedup(matched, key=key, order_cols=order_cols)


def lww_first(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """First-writer-wins: the min_by twin of :func:`lww_dedup`.

    Orders on the native column values (full timestamp precision — no
    unix_timestamp truncation), so Spark and a SQL oracle ordering by the
    same columns agree even on same-second, different-microsecond events.
    """
    payload = [c for c in df.columns if c != key]
    winner = F.min_by(F.struct(*payload), _order_struct(order_cols)).alias("w")
    out = df.groupBy(key).agg(winner)
    return out.select(key, *[F.col(f"w.{c}").alias(c) for c in payload])


def lww_dedup_window(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """row_number()==1 formulation (reference W5, merger.py:286-339)."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
