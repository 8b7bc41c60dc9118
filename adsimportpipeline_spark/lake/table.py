"""A minimal bucketed copy-on-write lake table with atomic manifest commits.

This is the engine's upsert substrate — the Spark-first replacement for the
reference's Postgres ``records`` table (models.py:38-56, upsert app.py:24-74)
and, in a real cluster deployment, a drop-in slot for Iceberg ``MERGE INTO``
(the apply layer in ``apply.py`` only talks to this interface).

Design for 100 TB:

- **Hash-bucketed layout.** Rows live in ``n_buckets`` buckets by
  ``pmod(xxhash64(url), n_buckets)``.  A micro-batch that touches k buckets
  rewrites only those k bucket file-groups; untouched buckets are carried
  forward *by reference* in the new manifest (copy-on-write, like Iceberg's
  partition-scoped overwrite).  At cluster scale n_buckets is thousands;
  locally it defaults to 64.
- **Atomic snapshot commits.** A commit = write data files + write manifest
  ``v{N}.json`` + atomically flip the ``_CURRENT`` pointer (os.replace).
  Readers resolve ``_CURRENT`` once and see a consistent snapshot.  Old
  manifests are retained -> time travel by version.
- **Exactly-once.** The manifest records ``committed_epochs[source] =
  last_batch_id``; the streaming apply path checks it before applying a
  micro-batch, so foreachBatch replays after a crash are no-ops — the
  idempotent-upsert semantics the reference got from upsert-by-bibcode
  (app.py:34-39) upgraded to exactly-once.
- **Schema evolution without rewrites.** Each file group carries a
  ``schema_id``; reads align every group to the current schema
  (``evolve.align_to_schema``).  Additive columns and widening promotions
  never rewrite old files.
- **Multi-branch atomicity.** One manifest also tracks the ``tombstones``
  and ``lineage`` append-only branches, so pages + tombstones + lineage
  move in a single atomic commit (the reference needed same-transaction
  semantics between ``records`` and ``change_log``; app.py:15-21).

Single-writer assumption (one streaming query), matching a single Spark
driver committing to Iceberg.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..evolve import align_to_schema

_MANIFEST_DIR = "_manifests"
_CURRENT = "_CURRENT"
_COMMIT_LOCK = "_COMMIT_LOCK"


class CommitConflictError(RuntimeError):
    """Another writer committed between this commit's plan and its publish
    (Iceberg optimistic-concurrency revalidation failure).  The loser must
    re-read the current snapshot and re-plan; its data files are orphaned
    and reclaimed by :meth:`LakeTable.remove_orphans`."""


def _stat_key(v):
    """JSON-encodable, order-preserving encoding of a column-stat value.
    Timestamps/dates become fixed-width ISO strings (lexicographic order =
    chronological order); binary and anything else returns None, meaning
    'no usable bound' — absence of stats can only cost a file read, never
    correctness.

    All datetimes are normalized to naive-UTC before encoding: parquet
    footers for Spark TimestampType carry isAdjustedToUTC=true, so pyarrow
    hands back tz-AWARE datetimes, while query bounds are usually naive.
    Python compares the ISO strings lexicographically and an aware
    rendering ('...+00:00') of the same instant sorts differently from the
    naive one — without the normalization every stats comparison is off by
    the tz suffix (and by the full UTC offset when the caller's naive bound
    was built in a non-UTC wall clock).  Naive inputs are taken as UTC —
    the engine-wide convention (session.py pins
    spark.sql.session.timeZone=UTC, so that is also how read_range's
    ``lit(bound)`` cast interprets them).  Dates are promoted to midnight
    datetimes so a date bound compares correctly against timestamp-column
    stats (a bare '2024-06-15' sorting BELOW '2024-06-15T00:00:00' used to
    skip files whose min equals the bound instant)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None  # two-value domains aren't worth a bound
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat(
            timespec="microseconds"
        )
    if isinstance(v, str):
        # Parquet writers may truncate long BYTE_ARRAY statistics; a
        # truncated max is a PREFIX of the true max and would wrongly
        # prove a file disjoint from a range above it.  Values far under
        # any truncation threshold are exact — longer ones get no bound.
        return v if len(v) <= 256 else None
    if isinstance(v, (int, float)):
        return v
    return None


#: stat keys as emitted by pre-normalization manifests: aware-rendered ISO
#: timestamps (pyarrow always renders Spark's UTC-adjusted footers with a
#: literal '+00:00') and bare ISO dates (today's date keys are promoted to
#: midnight datetimes, against which a bare 'YYYY-MM-DD' mis-compares —
#: it sorts BELOW the same day's midnight rendering).  Anything matching
#: is ambiguous against today's keys and is treated as no-bound in
#: plan_range (conservative keep; also forfeits bounds on string columns
#: holding date-shaped values — a lost optimization, never lost rows)
_LEGACY_AWARE_KEY = re.compile(
    r"^\d{4}-\d{2}-\d{2}(T\d{2}:\d{2}:\d{2}\.\d{6}\+00:00)?$"
)


def _query_key(v, dtype) -> "str | int | float | None":
    """Stat-key encoding of a CALLER-SUPPLIED range bound.  Differs from
    :func:`_stat_key` (which encodes trusted parquet-footer values) in two
    ways, both keep-biased:

    - A STRING bound on a timestamp/date column is parsed and promoted to
      the same fixed-width ISO key the footers produce.  read_range's exact
      predicate accepts strings (``lit(bound).cast(dt)``), and the raw
      string ('2024-06-15 12:00:00', space separator, no fraction) sorts
      differently from the stored 'T'-separated microsecond rendering —
      a file whose min equals the bound instant compared ABOVE it and was
      wrongly pruned.  Promotion is gated on the COLUMN type: the same
      date-shaped string against a genuinely-string column must compare
      raw (the stored keys kept their raw shape too).  Unparseable → None.
    - Any other bound goes through :func:`_stat_key`; type disagreements
      with stored keys are handled by the comparability guard in
      plan_range (no bound, never a TypeError)."""
    import datetime

    from pyspark.sql import types as _T

    if isinstance(v, str) and isinstance(
        dtype, (_T.TimestampType, _T.TimestampNTZType, _T.DateType)
    ):
        try:
            parsed = datetime.datetime.fromisoformat(v.strip().replace(" ", "T"))
        except ValueError:
            return None
        return _stat_key(parsed)
    return _stat_key(v)


def _keys_comparable(a, b) -> bool:
    """True iff two stat keys can be ordered without a TypeError: both
    strings or both numbers.  A mismatched pair (epoch-number bound vs
    ISO-string timestamp stats, string bound vs numeric stats) yields no
    pruning — the exact predicate still decides membership."""
    if isinstance(a, str) and isinstance(b, str):
        return True
    return isinstance(a, (int, float)) and isinstance(b, (int, float))


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def bucket_partitioned(df: DataFrame, buckets) -> DataFrame:
    """Place ``df``'s rows (tagged with ``_bucket``, every value one of
    ``buckets``) so each bucket lands whole on exactly one of
    ``P = min(len(buckets), defaultParallelism)`` partitions, none empty.

    The k-th bucket of ``sorted(buckets)`` goes to partition ``k mod P``,
    read per row by indexing a literal array by bucket id (O(1), no search
    of the list, which holds thousands of buckets at cluster scale).  A
    fixed-count ``repartitionById`` exchange: AQE does not coalesce it, so
    a stage behind it runs as one wave of at most one task per core.  A
    hash ``repartition(_bucket)`` instead collides bucket ids (two of 8
    shared one partition) and, at a fixed count above the bucket count,
    schedules empty tasks — each ~250 ms when the stage runs Python."""
    ordered = sorted(set(buckets))
    n_parts = max(1, min(len(ordered), df.sparkSession.sparkContext.defaultParallelism))
    part_of = np.zeros(ordered[-1] + 1 if ordered else 1, dtype=np.int32)
    part_of[ordered] = np.arange(len(ordered), dtype=np.int32) % n_parts
    # one array literal (a numpy array is one py4j call, not one per
    # bucket); F.get reads an id past its end as NULL (partition 0) even
    # under ANSI
    pid = F.get(F.lit(part_of), F.col("_bucket"))
    return df.repartitionById(n_parts, pid)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------------ io
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:08d}.json")

    def current_version(self) -> int:
        with open(os.path.join(self.root, _CURRENT)) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _atomic_write(self, path: str, content: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def _commit_manifest(
        self,
        m: dict,
        parent_version: int | None = None,
        create_only: bool = False,
    ) -> int:
        """Publish a manifest at the next free version via a hard-link CAS.

        ``os.link(tmp, final)`` fails with EEXIST atomically, so a version
        file can be claimed by exactly ONE writer — an ``exists()`` probe
        followed by ``os.replace`` would let two concurrent committers (or
        a committer racing a crashed commit's leftover) both claim vN, the
        second silently destroying the first (the optimistic-concurrency
        CAS Iceberg performs against its catalog).

        ``parent_version`` enables Iceberg-style commit REVALIDATION for
        multi-writer safety: it names the snapshot this commit's changes
        were planned against.  If ``_CURRENT`` has advanced past it when
        the commit publishes, another writer committed in between — this
        commit's reads (bucket survivors, epochs, schema) are stale — and
        :class:`CommitConflictError` is raised; the caller must re-plan
        against the new current snapshot (a backfill racing the stream
        loses cleanly instead of silently reverting the stream's delta).
        The revalidate-and-flip runs under an exclusive ``flock`` so two
        same-parent writers cannot interleave check and flip (without it,
        both could pass the check before either flips — a lost update).
        SCOPE: ``flock`` is advisory and only reliable for writers on the
        SAME host over a local filesystem — like the rest of this local-
        lake stand-in (POSIX rename/link atomicity).  Cross-host writers
        on NFS/object storage get no exclusion here; a real deployment
        does this CAS against an Iceberg catalog (Hive/REST/DynamoDB
        lock), which is exactly the seam this method stands in for.
        Crash-leftover manifests (claimed version file, ``_CURRENT`` never
        flipped) do NOT raise: the claim loop skips them and the check
        compares against ``_CURRENT``, which they never touched."""
        import fcntl

        with open(os.path.join(self.root, _COMMIT_LOCK), "w") as lock_f:
            fcntl.flock(lock_f, fcntl.LOCK_EX)
            if create_only and os.path.exists(
                os.path.join(self.root, _CURRENT)
            ):
                # create racing create: the unlocked exists-probe in
                # create() is a fast path only; re-checked HERE under the
                # lock so a concurrent creator can't publish a fresh empty
                # manifest PAST another writer's committed data/epochs
                return self.current_version()
            if parent_version is not None:
                cur = self.current_version()
                if cur != parent_version:
                    raise CommitConflictError(
                        f"commit planned against v{parent_version} but the "
                        f"table advanced to v{cur}; re-read and re-plan"
                    )
            v = m["version"]
            tmp = self._manifest_path(v) + f".tmp-{uuid.uuid4().hex[:8]}"

            def _write_tmp() -> None:
                with open(tmp, "w") as f:
                    json.dump(m, f, indent=1)
                    f.flush()
                    os.fsync(f.fileno())

            m["version"] = v
            _write_tmp()
            try:
                while True:
                    try:
                        os.link(tmp, self._manifest_path(v))
                        break
                    except FileExistsError:
                        v += 1
                        m["version"] = v  # version is inside the content
                        _write_tmp()
            finally:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
            self._atomic_write(os.path.join(self.root, _CURRENT), str(v))
        return v

    # -------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: str = "url",
        n_buckets: int = 64,
        stats_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
    ) -> "LakeTable":
        """``stats_cols``: top-level primitive columns whose per-file
        [min, max] bounds are recorded in the manifest at every data
        commit (Iceberg manifest column metrics).  :meth:`read_range` on
        one of these columns then skips files whose bounds prove them
        disjoint from the requested range — the data-skipping layer
        UNDER bucket pruning (buckets prune by key equality; stats prune
        by range on any recorded column, e.g. ``warc_ts`` time slices).
        Off by default: the flagship replay path's commit tail stays
        footer-read-free unless a table opts in.

        ``sort_cols``: sort order WITHIN each bucket's files (Iceberg
        write-order analog).  Rows of a bucket are sorted by these
        columns before writing, so parquet row-group statistics on them
        become tight and a pushed key/range predicate skips most row
        groups inside a file — the skipping layer UNDER file pruning.
        Costs an in-partition sort per commit; off by default so the
        replay hot path is unchanged.

        Reopen semantics: create() on an existing table is idempotent and
        NEVER alters its options.  An explicit ``stats_cols``/``sort_cols``
        that disagrees with the existing manifest raises
        (:meth:`_check_create_options`); ``key``, ``n_buckets`` and
        ``schema`` are NOT drift-checked — they have non-None defaults, so
        "didn't ask" is indistinguishable from "asked for the default",
        and n_buckets legitimately diverges from creation intent after a
        :meth:`rescale_buckets`.  A caller reopening with a different key
        or schema silently gets the existing table's values; compare
        against :meth:`manifest` yourself if that matters."""
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        t = cls(spark, root)
        if os.path.exists(os.path.join(root, _CURRENT)):
            # already exists; idempotent (fast path, unlocked) — but an
            # EXPLICITLY requested option that disagrees with the existing
            # table must raise, not silently vanish (a caller expecting
            # stats-pruned reads would otherwise get full scans forever)
            t._check_create_options(stats_cols, sort_cols)
            return t
        m = {
            "version": 1,
            "key": key,
            "n_buckets": n_buckets,
            "schemas": {"0": schema.json()},
            "current_schema_id": 0,
            "buckets": {},          # bucket_id -> [{path, schema_id, stats?}]
            "tombstone_files": [],  # [{path, schema_id? fixed schema}]
            "lineage_files": [],
            "committed_epochs": {},  # source -> last batch id (long)
            "stats_cols": list(stats_cols or []),
            "sort_cols": list(sort_cols or []),
        }
        # create_only: re-checked under the commit flock — without it two
        # concurrent creators race the probe above and the loser publishes
        # an empty manifest AS THE NEWEST VERSION, wiping the winner's
        # committed rows and resetting committed_epochs (exactly-once gone)
        t._commit_manifest(m, create_only=True)
        # covers the lost-race path too: if another creator won with
        # different options, this creator's explicit request must not be
        # silently dropped (winning the race trivially passes the check)
        t._check_create_options(stats_cols, sort_cols)
        return t

    def _check_create_options(
        self,
        stats_cols: list[str] | None,
        sort_cols: list[str] | None,
    ) -> None:
        """Raise when an EXPLICIT create() option disagrees with the
        existing table's manifest.  ``None`` means "caller didn't ask" and
        is never checked; create() stays idempotent for option-less reopens
        (the streaming runners re-call it every start)."""
        if stats_cols is None and sort_cols is None:
            return
        m = self.manifest()
        for name, want in (("stats_cols", stats_cols), ("sort_cols", sort_cols)):
            have = list(m.get(name) or [])
            if want is not None and list(want) != have:
                raise ValueError(
                    f"table at {self.root} exists with {name}={have}, "
                    f"requested {list(want)}; create() never alters an "
                    "existing table's options"
                )

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        return cls(spark, root)

    # --------------------------------------------------------------- reads
    def schema(self, m: dict | None = None) -> T.StructType:
        m = m or self.manifest()
        return T.StructType.fromJson(
            json.loads(m["schemas"][str(m["current_schema_id"])])
        )

    def _read_file_groups(self, m: dict, entries: list[dict]) -> DataFrame | None:
        """Read heterogeneous-schema file groups aligned to current schema."""
        if not entries:
            return None
        target = self.schema(m)
        by_sid: dict[int, list[str]] = {}
        for e in entries:
            by_sid.setdefault(e["schema_id"], []).append(e["path"])
        parts = []
        for sid, paths in by_sid.items():
            s = T.StructType.fromJson(json.loads(m["schemas"][str(sid)]))
            parts.append(align_to_schema(self.spark.read.schema(s).parquet(*paths), target))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        entries = [e for es in m["buckets"].values() for e in es]
        df = self._read_file_groups(m, entries)
        if df is None:
            return self.spark.createDataFrame([], self.schema(m))
        return df

    def read_buckets(self, bucket_ids: list[int], m: dict | None = None) -> DataFrame:
        m = m or self.manifest()
        entries = [e for b in bucket_ids for e in m["buckets"].get(str(b), [])]
        df = self._read_file_groups(m, entries)
        if df is None:
            return self.spark.createDataFrame([], self.schema(m))
        return df

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Net row-level changes between two committed snapshots — the Delta
        CDF / Iceberg changelog-scan analog that makes the table itself a CDC
        *source*: downstream consumers (index maintainers, exporters, derived
        tables) subscribe to snapshot deltas instead of rescanning the table.
        The reference exposed the same capability as its ``change_log`` rows
        keyed by record id (models.py change_log; app.py:15-21) — here it is
        derived from storage, so it is complete by construction.

        Every key whose row differs between ``from_version`` and
        ``to_version`` (default: current) comes back exactly once, tagged
        ``_change_type`` in {'insert', 'update_postimage', 'delete'} — plus a
        twin 'update_preimage' row per update when ``include_preimages`` —
        and stamped ``_commit_version`` = the resolved ``to_version``.
        Delete rows carry the pre-image payload.  Semantics are NET changes
        between the two endpoint states (like Delta CDF with collapsed
        intermediate versions): a key upserted then deleted inside the range
        does not appear.

        Scale shape: copy-on-write means an untouched bucket's file-group
        entry list is IDENTICAL between the two manifests (data files are
        immutable and never re-attached under a different bucket), so only
        buckets whose entry lists differ are read at all — cost is
        O(changed-bucket data), not O(table).  The two endpoint states of
        those buckets then resolve with ONE full-outer join on the table
        key; both sides are hash-bucketed by that key on disk, so on a real
        cluster with storage-partitioned joins the shuffle drops out too.
        Row equality is an exact null-safe struct compare, not a hash.  A
        pure compaction rewrites file groups without changing rows: its
        buckets are re-read but diff to zero rows (net semantics — cosmetic
        rewrites stay invisible downstream)."""
        m_new = self.manifest(to_version)
        m_old = self.manifest(from_version)
        if m_old["version"] > m_new["version"]:
            raise ValueError(
                f"from_version v{m_old['version']} is newer than "
                f"to_version v{m_new['version']}"
            )
        key = m_new["key"]
        target = self.schema(m_new)
        reserved = {"_change_type", "_commit_version", "_k", "_pre", "_post"}
        clash = reserved & {f.name for f in target.fields}
        if clash:  # a raise, not an assert: must survive python -O
            raise ValueError(
                f"table columns collide with changelog columns: {sorted(clash)}"
            )

        changed = sorted(
            b
            for b in set(m_old["buckets"]) | set(m_new["buckets"])
            if m_old["buckets"].get(b) != m_new["buckets"].get(b)
        )

        def _state(m: dict, entries: list[dict]) -> DataFrame:
            df = self._read_file_groups(m, entries)
            return df if df is not None else self.spark.createDataFrame([], self.schema(m))

        old_df = align_to_schema(
            _state(m_old, [e for b in changed for e in m_old["buckets"].get(b, [])]),
            target,
        )
        new_df = _state(m_new, [e for b in changed for e in m_new["buckets"].get(b, [])])
        cols = [f.name for f in target.fields]
        o = old_df.select(F.col(key).alias("_k"), F.struct(*cols).alias("_pre"))
        n = new_df.select(F.col(key).alias("_k"), F.struct(*cols).alias("_post"))
        j = (
            o.join(n, "_k", "full_outer")
            .withColumn(
                "_change_type",
                F.when(F.col("_pre").isNull(), F.lit("insert"))
                .when(F.col("_post").isNull(), F.lit("delete"))
                .when(
                    ~F.col("_pre").eqNullSafe(F.col("_post")),
                    F.lit("update_postimage"),
                ),
            )
            .filter(F.col("_change_type").isNotNull())
        )
        out = j.select(
            F.when(F.col("_change_type") == "delete", F.col("_pre"))
            .otherwise(F.col("_post"))
            .alias("_row"),
            "_change_type",
        )
        if include_preimages:
            out = out.unionByName(
                j.filter(F.col("_change_type") == "update_postimage").select(
                    F.col("_pre").alias("_row"),
                    F.lit("update_preimage").alias("_change_type"),
                )
            )
        return out.select(
            "_row.*",
            "_change_type",
            F.lit(m_new["version"]).cast("long").alias("_commit_version"),
        )

    @staticmethod
    def _collect_stats(path: str, stats_cols: list[str]) -> dict | None:
        """Per-file [min, max] bounds for ``stats_cols``, read from the
        parquet FOOTER the write already produced (one metadata read, no
        data scan) — the local stand-in for Iceberg's write-task column
        metrics.  A column with any stats-less or non-encodable row group
        gets no bound (conservative: the file is then never skipped)."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        if md.num_row_groups == 0:
            return None
        names = {}
        for i in range(md.num_columns):
            names[md.row_group(0).column(i).path_in_schema] = i
        out = {}
        for c in stats_cols:
            i = names.get(c)
            if i is None:
                continue
            lo = hi = None
            ok = md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _stat_key(st.min), _stat_key(st.max)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok:
                out[c] = [lo, hi]
        return out or None

    def plan_range(
        self, col: str, lo=None, hi=None, m: dict | None = None
    ) -> tuple[list[dict], int]:
        """File-skipping plan for ``col`` ∈ [lo, hi] (either bound may be
        None = open): returns (surviving file entries, total entries).
        A file is skipped only when its recorded bounds PROVE it disjoint
        from the range; files without bounds always survive.  Bounds whose
        encoded type cannot be ordered against the stored keys (and string
        bounds on a time column, which are promoted to the footers' ISO
        rendering first) degrade to no-pruning, never to a TypeError or a
        wrong skip."""
        m = m or self.manifest()
        try:
            dtype = self.schema(m)[col].dataType
        except Exception:
            dtype = None
        klo, khi = _query_key(lo, dtype), _query_key(hi, dtype)
        entries = [e for es in m["buckets"].values() for e in es]

        def usable(k):
            # manifests written before the naive-UTC normalization carry
            # aware-rendered ('...+00:00') timestamp keys that no longer
            # compare against naive query keys; treat them as no-bound
            # (conservative keep — absence of stats never loses rows)
            if isinstance(k, str) and _LEGACY_AWARE_KEY.match(k):
                return None
            return k

        kept = []
        for e in entries:
            b = (e.get("stats") or {}).get(col)
            if b is not None:
                b0, b1 = usable(b[0]), usable(b[1])
                if (
                    klo is not None
                    and b1 is not None
                    and _keys_comparable(b1, klo)
                    and b1 < klo
                ):
                    continue
                if (
                    khi is not None
                    and b0 is not None
                    and _keys_comparable(b0, khi)
                    and b0 > khi
                ):
                    continue
            kept.append(e)
        return kept, len(entries)

    def read_range(
        self, col: str, lo=None, hi=None, m: dict | None = None
    ) -> DataFrame:
        """Stats-pruned range scan: read only files whose manifest bounds
        intersect [lo, hi], then apply the exact predicate (bounds prune
        I/O, never decide membership).  This is the data-skipping layer
        UNDER bucket pruning — buckets prune by key equality, stats prune
        by range on any ``stats_cols`` column (e.g. ``warc_ts`` time
        slices over a table laid out by url-hash).  At 100 TB this is the
        difference between a time-slice query reading the whole table and
        reading only the commits that overlap the window."""
        m = m or self.manifest()
        kept, _total = self.plan_range(col, lo, hi, m)
        df = self._read_file_groups(m, kept)
        if df is None:
            return self.spark.createDataFrame([], self.schema(m))
        dt = df.schema[col].dataType  # lit cast: TIMESTAMP vs _NTZ columns
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo).cast(dt))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi).cast(dt))
        return df

    def read_tombstones(self, tomb_schema: T.StructType) -> DataFrame:
        m = self.manifest()
        paths = [e["path"] for e in m["tombstone_files"]]
        if not paths:
            return self.spark.createDataFrame([], tomb_schema)
        return self.spark.read.schema(tomb_schema).parquet(*paths)

    def read_lineage(self, lineage_schema: T.StructType) -> DataFrame:
        m = self.manifest()
        paths = [e["path"] for e in m["lineage_files"]]
        if not paths:
            return self.spark.createDataFrame([], lineage_schema)
        return self.spark.read.schema(lineage_schema).parquet(*paths)

    # -------------------------------------------------------------- epochs
    def last_epoch(self, source: str) -> int:
        return int(self.manifest()["committed_epochs"].get(source, -1))

    # -------------------------------------------------------------- writes
    def _write_data_dir(self, df: DataFrame, tag: str) -> str:
        d = os.path.join(self.root, "data", f"{tag}-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(d)
        return d

    @staticmethod
    def _parquet_files(d: str, subdir: str | None = None) -> list[str]:
        base = os.path.join(d, subdir) if subdir else d
        if not os.path.isdir(base):
            return []
        return sorted(
            os.path.join(base, f)
            for f in os.listdir(base)
            if f.endswith(".parquet")
        )

    def _ensure_stats_friendly_writes(self, stats_cols: list[str]) -> None:
        """Stats tables need footer min/max on every recorded column:
        INT96 timestamps (Spark's legacy parquet encoding) carry none, so
        flip the session to TIMESTAMP_MICROS before writing.  Session-wide
        and sticky by design — MICROS is the non-deprecated encoding and
        reads back identically."""
        if stats_cols:
            self.spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )

    def _data_entry(self, path: str, sid: int, stats_cols: list[str]) -> dict:
        e = {"path": path, "schema_id": sid}
        if stats_cols:
            s = self._collect_stats(path, stats_cols)
            if s:
                e["stats"] = s
        return e

    def overwrite_buckets(
        self,
        new_data,
        touched_buckets: list[int],
        epoch_source: str | None = None,
        epoch: int | None = None,
        new_schema: T.StructType | None = None,
        tombstone_appends=None,
        lineage_appends=None,
        pre_partitioned: bool = False,
        parent_version: int | None = None,
    ) -> int:
        """Copy-on-write commit: replace the file groups of ``touched_buckets``
        with ``new_data`` (which must contain only rows of those buckets),
        carry everything else forward, append tombstones/lineage, record the
        commit epoch — all in one atomic manifest flip.

        ``pre_partitioned=True`` asserts the caller already placed
        ``new_data`` by :func:`bucket_partitioned` on
        ``bucket_expr(key, n_buckets)`` (the fused bulk apply path does);
        the write then skips its own exchange — no second payload shuffle.

        ``new_data`` may be a CALLABLE returning the DataFrame: plan
        construction then happens inside the main write's pool thread, so
        any eager work it does (the LWW winner-offset collect is a full
        narrow scan of the batch) runs CONCURRENTLY with the tombstone and
        lineage append jobs instead of serializing before them — on an
        otherwise idle 4-core leg those small jobs fill the scan's wave
        gaps for free.

        ``parent_version`` names the snapshot this commit's plan was built
        against (a caller that read the manifest earlier passes it down);
        default = the version read here.  Either way the commit REVALIDATES:
        if another writer advanced the table in between, the publish raises
        :class:`CommitConflictError` instead of silently superseding the
        other writer's delta (Iceberg optimistic concurrency)."""
        m = self.manifest()
        if parent_version is None:
            parent_version = m["version"]
        key, nb = m["key"], m["n_buckets"]
        stats_cols = m.get("stats_cols") or []
        self._ensure_stats_friendly_writes(stats_cols)

        if new_schema is not None and new_schema.json() != m["schemas"][str(m["current_schema_id"])]:
            sid = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(sid)] = new_schema.json()
            m["current_schema_id"] = sid
        sid = m["current_schema_id"]

        # write new bucket data partitioned by bucket dir; place whole
        # buckets on partitions first so each bucket is one file (without
        # this every task writes a sliver of every bucket -> tasks x buckets
        # tiny files).  The three independent writes (data, tombstones,
        # lineage) are submitted as CONCURRENT Spark jobs — the scheduler
        # interleaves their tasks, so the small appends ride along instead of
        # serializing after the big write (atomicity is unaffected: nothing
        # is visible until the single manifest flip below).
        d = os.path.join(self.root, "data", f"c-{uuid.uuid4().hex[:12]}")

        sort_cols = m.get("sort_cols") or []

        def _write_main() -> None:
            df = new_data() if callable(new_data) else new_data
            tagged = df.withColumn("_bucket", bucket_expr(key, nb))
            if not pre_partitioned:
                tagged = bucket_partitioned(tagged, touched_buckets)
            if sort_cols:
                # in-partition sort only — no extra shuffle; tightens
                # row-group stats so pushed predicates skip within files
                tagged = tagged.sortWithinPartitions("_bucket", *sort_cols)
            tagged.write.mode("overwrite").partitionBy("_bucket").parquet(d)

        # repartition(1), not coalesce(1): coalesce would collapse the whole
        # upstream distinct/aggregation into a single task; repartition keeps
        # the computation parallel and only funnels the (small) result to one
        # output file
        jobs = [_write_main]
        results: dict[str, str] = {}
        if tombstone_appends is not None:
            # appends may be CALLABLES like new_data: their (driver-side)
            # plan construction then runs in the pool thread, overlapped
            # with the main write instead of serializing before it
            jobs.append(lambda: results.__setitem__(
                "tomb",
                self._write_data_dir(
                    (tombstone_appends() if callable(tombstone_appends)
                     else tombstone_appends).repartition(1),
                    "tomb",
                )))
        if lineage_appends is not None:
            jobs.append(lambda: results.__setitem__(
                "lin",
                self._write_data_dir(
                    (lineage_appends() if callable(lineage_appends)
                     else lineage_appends).repartition(1),
                    "lin",
                )))
        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                for fut in [pool.submit(j) for j in jobs]:
                    fut.result()
        else:
            jobs[0]()

        # one listdir of the commit dir instead of one per bucket: 128+
        # buckets = 128 serial listdir calls (~100ms of commit tail)
        by_bucket: dict[int, list[str]] = {}
        if os.path.isdir(d):
            for sub in os.listdir(d):
                if sub.startswith("_bucket="):
                    by_bucket[int(sub.split("=", 1)[1])] = self._parquet_files(d, sub)
        for b in touched_buckets:
            files = by_bucket.get(b, [])
            m["buckets"][str(b)] = [self._data_entry(p, sid, stats_cols) for p in files]
        if "tomb" in results:
            m["tombstone_files"] += [
                {"path": p, "schema_id": sid} for p in self._parquet_files(results["tomb"])
            ]
        if "lin" in results:
            m["lineage_files"] += [
                {"path": p, "schema_id": sid} for p in self._parquet_files(results["lin"])
            ]

        if epoch_source is not None and epoch is not None:
            m["committed_epochs"][epoch_source] = int(epoch)

        m["version"] = m["version"] + 1
        return self._commit_manifest(m, parent_version=parent_version)

    def append_buckets(
        self,
        new_data: DataFrame,
        epoch_source: str | None = None,
        epoch: int | None = None,
        retries: int = 0,
    ) -> int:
        """Fast-append (Iceberg append-snapshot analog): add ``new_data``'s
        rows as NEW file groups under their buckets without rewriting any
        existing file — write cost is O(new rows), independent of bucket
        size.  The right commit shape for append-heavy side tables (the
        incremental LSH band index) where copy-on-write would re-write a
        whole bucket per micro-batch.

        Appends commute with appends: on a lost CAS the data files (already
        written, immutable) are re-attached to a fresh snapshot and the
        commit retried — no Spark job re-runs.  ``retries`` bounds that
        loop; conflicts beyond it raise :class:`CommitConflictError` (the
        files are then orphans until :meth:`remove_orphans`).

        ``epoch_source``/``epoch`` give the same exactly-once re-delivery
        guard as :meth:`overwrite_buckets`: an epoch at or below the
        recorded one is a committed duplicate and the append is skipped."""
        m = self.manifest()
        if (
            epoch_source is not None
            and epoch is not None
            and int(epoch) <= int(m["committed_epochs"].get(epoch_source, -1))
        ):
            return m["version"]
        key, nb = m["key"], m["n_buckets"]
        self._ensure_stats_friendly_writes(m.get("stats_cols") or [])
        d = os.path.join(self.root, "data", f"a-{uuid.uuid4().hex[:12]}")
        tagged = bucket_partitioned(
            new_data.withColumn("_bucket", bucket_expr(key, nb)), range(nb)
        )
        if m.get("sort_cols"):
            tagged = tagged.sortWithinPartitions("_bucket", *m["sort_cols"])
        tagged.write.mode("overwrite").partitionBy("_bucket").parquet(d)
        by_bucket: dict[int, list[str]] = {}
        if os.path.isdir(d):
            for sub in os.listdir(d):
                if sub.startswith("_bucket="):
                    by_bucket[int(sub.split("=", 1)[1])] = self._parquet_files(d, sub)
        # stats are a property of the (immutable) files: compute once,
        # reuse across CAS retries
        stats_cols = m.get("stats_cols") or []
        new_entries = {
            b: [self._data_entry(p, m["current_schema_id"], stats_cols) for p in files]
            for b, files in by_bucket.items()
        }
        for attempt in range(retries + 1):
            m = self.manifest()
            # a lost CAS against a RESCALE is not retryable: these files
            # were physically bucketed under pmod(key, nb) — re-attaching
            # them to same-numbered buckets of a different geometry would
            # make bucket-pruned reads miss their rows.  Raise regardless
            # of remaining retries; the caller must re-bucket and re-write.
            if m["n_buckets"] != nb:
                raise CommitConflictError(
                    f"append planned under n_buckets={nb} but the table "
                    f"was rescaled to {m['n_buckets']}; re-bucket and retry"
                )
            # entries keep their WRITE-time schema_id even across a lost
            # CAS: if the conflicting commit evolved the schema, these
            # parquet files were still physically written under the old
            # one — re-stamping them with the new id would make readers
            # decode them with a schema they don't carry (align_to_schema
            # up-casts old-id groups on read; a wrong id bypasses it)
            for b, entries in new_entries.items():
                m["buckets"].setdefault(str(b), []).extend(entries)
            if epoch_source is not None and epoch is not None:
                if int(epoch) <= int(m["committed_epochs"].get(epoch_source, -1)):
                    return m["version"]  # raced a duplicate delivery
                m["committed_epochs"][epoch_source] = int(epoch)
            parent = m["version"]
            m["version"] = parent + 1
            try:
                return self._commit_manifest(m, parent_version=parent)
            except CommitConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def compact(self, bucket_ids: list[int] | None = None, retries: int = 0) -> int:
        """Small-file compaction: rewrite each bucket's file group into a
        fresh single group (Iceberg rewrite_data_files analog).  Untouched
        buckets carry forward; readers keep older snapshots via time travel.

        ``retries``: a maintenance rewrite racing a streaming committer
        loses the CAS and raises :class:`CommitConflictError`; its re-plan
        is trivially safe (re-read the now-current snapshot, rewrite
        again), so schedulers pass ``retries=1`` to absorb one conflict —
        the losing attempt's data files are orphans until
        :meth:`remove_orphans`.  The default stays raise-on-conflict so an
        unexpected race is never silent."""
        for attempt in range(retries + 1):
            m = self.manifest()
            ids = bucket_ids if bucket_ids is not None else [int(b) for b in m["buckets"]]
            data = self.read_buckets(ids, m)
            try:
                return self.overwrite_buckets(
                    data, ids, new_schema=self.schema(m), parent_version=m["version"]
                )
            except CommitConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def rescale_buckets(self, new_n_buckets: int, retries: int = 0) -> int:
        """Change the table's bucket count — the growth path a 100 TB
        table needs when the bucket geometry chosen at creation stops
        fitting the data (Iceberg partition-spec evolution analog for a
        ``bucket(n, key)`` spec).

        One copy-on-write commit: every row is rewritten under
        ``pmod(xxhash64(key), new_n_buckets)``, epochs / tombstones /
        lineage / stats_cols carry through unchanged, and readers keep
        the pre-rescale snapshot via time travel until the flip.  Commit
        REVALIDATION applies (:class:`CommitConflictError` on a lost
        race; ``retries`` follows :meth:`compact`'s contract).

        Scale shape: when ``new_n_buckets`` is a MULTIPLE of the current
        count, the split is LOCAL — ``pmod(h, n) == b`` implies
        ``pmod(h, k*n) ∈ {b, b+n, …, b+(k-1)n}`` — so each old bucket's
        rows scatter into exactly k child buckets and a cluster rewrite
        needs no global shuffle (read bucket-at-a-time, write its k
        children; buckets split independently, so the job parallelizes
        and restarts per-bucket).  This local implementation rewrites in
        one job; the multiplicative property is what makes the same
        operation incremental on a real cluster."""
        for attempt in range(retries + 1):
            m = self.manifest()
            parent = m["version"]
            data = self.read()
            key = m["key"]
            sid = m["current_schema_id"]
            self._ensure_stats_friendly_writes(m.get("stats_cols") or [])
            d = os.path.join(self.root, "data", f"r-{uuid.uuid4().hex[:12]}")
            tagged = bucket_partitioned(
                data.withColumn("_bucket", bucket_expr(key, new_n_buckets)),
                range(new_n_buckets),
            )
            if m.get("sort_cols"):
                tagged = tagged.sortWithinPartitions("_bucket", *m["sort_cols"])
            tagged.write.mode("overwrite").partitionBy("_bucket").parquet(d)
            stats_cols = m.get("stats_cols") or []
            buckets: dict[str, list[dict]] = {}
            if os.path.isdir(d):
                for sub in os.listdir(d):
                    if sub.startswith("_bucket="):
                        buckets[sub.split("=", 1)[1]] = [
                            self._data_entry(p, sid, stats_cols)
                            for p in self._parquet_files(d, sub)
                        ]
            m["buckets"] = buckets
            m["n_buckets"] = int(new_n_buckets)
            m["version"] = parent + 1
            try:
                return self._commit_manifest(m, parent_version=parent)
            except CommitConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def compact_appends(self, retries: int = 0) -> int:
        """Fold the append-only tombstone/lineage branches — one file per
        micro-batch otherwise — into a single file each (Iceberg
        rewrite_manifests + position-delete compaction analog).  Without
        this, N micro-batches mean N tombstone files re-read by EVERY
        subsequent batch's resurrection guard and an O(N) manifest; with
        periodic folding both stay O(1).  Contents are preserved exactly
        (the audit log is a distinct set; folding does not dedup rows).

        ``retries`` follows :meth:`compact`'s contract: pass 1 from a
        scheduled maintenance job to absorb one lost CAS against a live
        streaming writer; default raises."""
        for attempt in range(retries + 1):
            m = self.manifest()
            parent = m["version"]
            for branch, tag in (("tombstone_files", "tomb"), ("lineage_files", "lin")):
                paths = [e["path"] for e in m[branch]]
                if len(paths) <= 1:
                    continue
                df = self.spark.read.parquet(*paths).repartition(1)
                d = self._write_data_dir(df, f"{tag}c")
                m[branch] = [
                    {"path": p, "schema_id": m["current_schema_id"]}
                    for p in self._parquet_files(d)
                ]
            m["version"] = m["version"] + 1
            try:
                return self._commit_manifest(m, parent_version=parent)
            except CommitConflictError:
                if attempt == retries:
                    raise
        raise AssertionError("unreachable")

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop manifests older than the newest ``keep_last`` and delete
        data/tombstone/lineage files no retained manifest references
        (Iceberg expire_snapshots + orphan-file cleanup).  Bounds on-disk
        growth of a long-lived table at the cost of time travel beyond
        ``keep_last`` versions."""
        current = self.current_version()
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        # exact committed names only: a leftover 'vNNNNNNNN.json.tmp-*' from a
        # crashed atomic write must neither duplicate a version nor be parsed
        versions = sorted(
            {
                int(f[1:9])
                for f in os.listdir(mdir)
                if len(f) == 14 and f.startswith("v") and f.endswith(".json")
                and f[1:9].isdigit()
            }
        )
        retained = [v for v in versions if v > current - keep_last]
        expired = [v for v in versions if v <= current - keep_last]
        live: set[str] = set()
        for v in retained:
            m = self.manifest(v)
            for es in m["buckets"].values():
                live.update(e["path"] for e in es)
            live.update(e["path"] for e in m["tombstone_files"])
            live.update(e["path"] for e in m["lineage_files"])
        # referenced-by-expired-only files are garbage
        for v in expired:
            m = self.manifest(v)
            dead: set[str] = set()
            for es in m["buckets"].values():
                dead.update(e["path"] for e in es)
            dead.update(e["path"] for e in m["tombstone_files"])
            dead.update(e["path"] for e in m["lineage_files"])
            for p in dead - live:
                try:
                    os.remove(p)
                except OSError:
                    pass
            try:
                os.remove(self._manifest_path(v))
            except OSError:
                pass
        return expired

    def remove_orphans(self, older_than_sec: float = 3600.0) -> list[str]:
        """Delete data files under the table root that NO manifest (retained
        or expired-but-present) references — the debris of crashed commits,
        whose data directories were fully written but whose manifest flip
        never happened (Iceberg remove_orphan_files analog).
        ``expire_snapshots`` cannot reach these: it walks manifests, and a
        crashed commit has none.

        ``older_than_sec`` is the standard in-flight-commit guard: a file
        younger than the grace window may belong to a commit that is being
        written RIGHT NOW (files land before the manifest), so only files
        older than the window are eligible.  Empty directories left behind
        are pruned.  Returns the deleted paths."""
        import time as _time

        mdir = os.path.join(self.root, _MANIFEST_DIR)
        live: set[str] = set()
        for f in os.listdir(mdir):
            if len(f) == 14 and f.startswith("v") and f.endswith(".json") and f[1:9].isdigit():
                m = self.manifest(int(f[1:9]))
                for es in m["buckets"].values():
                    live.update(os.path.realpath(e["path"]) for e in es)
                live.update(os.path.realpath(e["path"]) for e in m["tombstone_files"])
                live.update(os.path.realpath(e["path"]) for e in m["lineage_files"])
        cutoff = _time.time() - older_than_sec
        removed: list[str] = []
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if os.path.realpath(p) in live:
                    continue
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                        removed.append(p)
                except OSError:
                    continue
            if dirpath != data_root:
                try:
                    os.rmdir(dirpath)  # only succeeds when empty
                except OSError:
                    pass
        return removed
