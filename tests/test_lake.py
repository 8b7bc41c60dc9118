"""Lake table unit tests: bucket pruning, time travel, compaction, epochs."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.lake.table import LakeTable, bucket_expr
from adsimportpipeline_spark.schema import PAGES_SCHEMA


def _rows(spark, urls):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, 1), 1, None, "t", "en", "crawl", "fp") for u in urls],
        PAGES_SCHEMA,
    )


def test_bucket_pruning_reads_only_touched(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    urls = [f"u{i}" for i in range(50)]
    df = _rows(spark, urls)
    t.overwrite_buckets(df, list(range(8)))
    # compute each url's bucket, then read a subset of buckets
    with_b = df.select("url", bucket_expr("url", 8).alias("b")).collect()
    want = {r["url"] for r in with_b if r["b"] in (0, 1)}
    got = {r["url"] for r in t.read_buckets([0, 1]).collect()}
    assert got == want


def test_time_travel_and_compaction(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t2"), PAGES_SCHEMA, n_buckets=4)
    t.overwrite_buckets(_rows(spark, ["a", "b"]), list(range(4)))
    v1 = t.current_version()
    # second commit rewrites everything with more rows
    t.overwrite_buckets(_rows(spark, ["a", "b", "c", "d"]), list(range(4)))
    assert t.read().count() == 4
    assert t.read(version=v1).count() == 2  # time travel to the old snapshot

    # several more commits -> multiple file groups per bucket; compact merges
    for extra in (["e"], ["f"], ["g"]):
        cur = t.read()
        t.overwrite_buckets(cur.unionByName(_rows(spark, extra)), list(range(4)))
    m = t.manifest()
    t.compact()
    m2 = t.manifest()
    assert t.read().count() == 7
    files_before = sum(len(v) for v in m["buckets"].values())
    files_after = sum(len(v) for v in m2["buckets"].values())
    assert files_after <= files_before


def test_epoch_bookkeeping(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t3"), PAGES_SCHEMA, n_buckets=2)
    assert t.last_epoch("cdc") == -1
    t.overwrite_buckets(_rows(spark, ["a"]), [0, 1], epoch_source="cdc", epoch=7)
    assert t.last_epoch("cdc") == 7
    assert t.last_epoch("other") == -1


def _tomb_rows(spark, n, batch):
    from adsimportpipeline_spark.schema import TOMBSTONE_SCHEMA

    rows = [(f"u{batch}-{i}", datetime(2024, 1, 1), "deleted", batch * 100 + i) for i in range(n)]
    if batch in (3, 7):  # one delete delivered again, in two later batches
        rows.append(("u0-0", datetime(2024, 1, 1), "deleted", 0))
    return spark.createDataFrame(rows, TOMBSTONE_SCHEMA)


def test_append_compaction_and_snapshot_expiry(spark, tmp_path):
    from adsimportpipeline_spark.schema import TOMBSTONE_SCHEMA

    t = LakeTable.create(spark, str(tmp_path / "t4"), PAGES_SCHEMA, n_buckets=2)
    for b in range(12):
        tombs = t.write_append(_tomb_rows(spark, 2, b).coalesce(1), "tomb")
        t.overwrite_buckets(
            _rows(spark, [f"u{b}"]), [0, 1],
            epoch_source="cdc", epoch=b,
            appends=lambda _report: {"tombstone_files": tombs},
        )
    m = t.manifest()
    assert len(m["tombstone_files"]) == 12  # one append file per micro-batch
    raw = spark.read.parquet(*[e["path"] for e in m["tombstone_files"]])
    assert raw.filter("log_offset = 0").count() == 3
    read = [tuple(r) for r in t.read_tombstones(TOMBSTONE_SCHEMA).collect()]
    before = set(read)
    assert len(read) == len(before) == 24  # read as a distinct set

    t.compact_appends()
    m2 = t.manifest()
    assert len(m2["tombstone_files"]) == 1  # folded to O(1)
    folded = spark.read.parquet(m2["tombstone_files"][0]["path"])
    assert folded.count() == 24  # the fold keeps the repeated delete once
    after = {tuple(r) for r in t.read_tombstones(TOMBSTONE_SCHEMA).collect()}
    assert after == before  # the same set before and after the fold

    import os

    mdir = os.path.join(t.root, "_manifests")
    assert len(os.listdir(mdir)) > 10
    expired = t.expire_snapshots(keep_last=2)
    assert expired  # old versions dropped
    # manifests bounded, current snapshot fully readable
    assert len([f for f in os.listdir(mdir) if f.startswith("v")]) <= 2
    assert t.read().count() == 1  # last overwrite_buckets replaced all buckets
    assert {tuple(r) for r in t.read_tombstones(TOMBSTONE_SCHEMA).collect()} == before
    assert t.last_epoch("cdc") == 11


def test_compact_appends_with_nothing_to_fold_keeps_the_version(spark, tmp_path):
    """With no branch of more than one file there is nothing to fold:
    compact_appends publishes no snapshot and returns the current version."""
    t = LakeTable.create(spark, str(tmp_path / "ca"), PAGES_SCHEMA, n_buckets=2)
    assert t.compact_appends() == t.current_version() == 1  # empty branches
    tombs = t.write_append(_tomb_rows(spark, 2, 0).coalesce(1), "tomb")
    v = t.overwrite_buckets(_rows(spark, ["a"]), [0, 1],
                            appends=lambda _report: {"tombstone_files": tombs})
    m = t.manifest()
    assert len(m["tombstone_files"]) == 1
    assert t.compact_appends() == v == t.current_version()
    assert t.manifest() == m


def test_fold_due_absorbs_one_lost_cas_and_skips_on_a_second(spark, tmp_path, monkeypatch):
    """The fold is cosmetic: racing another committer it re-plans once,
    and when it loses again it skips without raising, leaving the table
    as it was."""
    from adsimportpipeline_spark.lake import table as lake

    t = LakeTable.create(spark, str(tmp_path / "fd"), PAGES_SCHEMA, n_buckets=2)
    for b in range(2):
        tombs = t.write_append(_tomb_rows(spark, 1, b).coalesce(1), "tomb")
        t.overwrite_buckets(_rows(spark, ["a"]), [0, 1],
                            appends=lambda _report: {"tombstone_files": tombs})
    monkeypatch.setattr(lake, "COMPACT_APPENDS_EVERY", 1)  # two files: due
    m, tries = t.manifest(), []

    def lost(*_args, **_kwargs):
        tries.append(1)
        raise lake.CommitConflictError("raced")

    monkeypatch.setattr(t, "_commit_manifest", lost)
    t.fold_due()
    assert len(tries) == 2 and t.manifest() == m


def test_concurrent_manifest_commit_never_lost(spark, tmp_path):
    """Two committers racing for the same version must BOTH land: the
    hard-link CAS makes claiming a version file atomic, so an exists-probe
    race can't silently overwrite a published manifest (the optimistic-
    concurrency check real Iceberg does against its catalog)."""
    import json
    import os
    import threading

    root = str(tmp_path / "cas")
    t = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    base = t.manifest()

    n_writers, per_writer = 4, 5
    errs: list[Exception] = []

    def _commit_many(wid: int) -> None:
        try:
            for i in range(per_writer):
                m = dict(base)
                m["version"] = t.current_version() + 1  # deliberately racy
                m["writer_stamp"] = f"{wid}:{i}"
                t._commit_manifest(m)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=_commit_many, args=(w,)) for w in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs

    mdir = os.path.join(root, "_manifests")
    files = [f for f in os.listdir(mdir) if len(f) == 14 and f.endswith(".json")]
    # every commit produced its OWN version file — none overwritten/lost
    stamps = set()
    for f in files:
        with open(os.path.join(mdir, f)) as fh:
            stamps.add(json.load(fh).get("writer_stamp"))
    assert len(files) == n_writers * per_writer + 1  # + the create() manifest
    assert len(stamps - {None}) == n_writers * per_writer
    # _CURRENT points at a readable manifest
    assert t.manifest()["version"] == t.current_version()
    # no leaked tmp files
    assert not [f for f in os.listdir(mdir) if ".tmp-" in f]


def test_two_writer_conflict_rejected_not_last_wins(spark, tmp_path):
    """Iceberg-style commit revalidation: two live writers plan against the
    same snapshot; the first commit lands, the second must RAISE (its reads
    are stale) instead of silently superseding the first's delta."""
    import pytest as _pytest

    from adsimportpipeline_spark.lake.table import CommitConflictError

    root = str(tmp_path / "mw")
    a = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    a.overwrite_buckets(_rows(spark, ["seed"]), list(range(4)))

    b = LakeTable.load(spark, root)
    parent = a.current_version()
    assert b.current_version() == parent  # both planned against the same snapshot

    a.overwrite_buckets(_rows(spark, ["from-a"]), list(range(4)),
                        parent_version=parent)
    with _pytest.raises(CommitConflictError):
        b.overwrite_buckets(_rows(spark, ["from-b"]), list(range(4)),
                            parent_version=parent)
    # the winner's delta is intact and _CURRENT advanced exactly once
    assert {r["url"] for r in a.read().collect()} == {"from-a"}
    assert a.current_version() == parent + 1
    # the loser can re-plan against the NEW snapshot and then succeed
    b.overwrite_buckets(_rows(spark, ["from-b"]), list(range(4)),
                        parent_version=b.current_version())
    assert {r["url"] for r in a.read().collect()} == {"from-b"}


def test_create_racing_create_never_wipes_committed_data(spark, tmp_path):
    """TOCTOU guard: a second creator whose unlocked exists-probe ran
    before the first creator wrote _CURRENT must NOT publish its fresh
    empty manifest as the newest version (that would hide committed rows
    and reset committed_epochs).  The re-check under the commit flock
    makes the late creator a no-op."""
    root = str(tmp_path / "ccr")
    a = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    a.overwrite_buckets(_rows(spark, ["seed"]), list(range(4)),
                        epoch_source="cdc", epoch=5)
    v = a.current_version()

    # simulate the loser's interleaving: its probe saw no _CURRENT, so it
    # proceeds straight to the create commit — against a table that now
    # holds data
    b = LakeTable.load(spark, root)
    fresh = {
        "version": 1,
        "key": "url",
        "n_buckets": 4,
        "schemas": {"0": PAGES_SCHEMA.json()},
        "current_schema_id": 0,
        "buckets": {},
        "tombstone_files": [],
        "lineage_files": [],
        "committed_epochs": {},
        "stats_cols": [],
    }
    got = b._commit_manifest(fresh, create_only=True)
    assert got == v  # no new version published
    assert a.current_version() == v
    assert {r["url"] for r in a.read().collect()} == {"seed"}
    assert a.last_epoch("cdc") == 5


def test_append_racing_schema_evolution_keeps_write_time_schema_id(
    spark, tmp_path
):
    """An append whose parquet files are written BEFORE a concurrent
    schema-evolving overwrite commits must label those files with the
    schema they were physically written under, not the commit-time
    current_schema_id: the files don't carry the widened type, and
    re-stamping them bypasses align_to_schema's up-cast on read (a
    widened int->long column then fails parquet decoding)."""
    import pyspark.sql.types as _T

    scored = _T.StructType(
        PAGES_SCHEMA.fields + [_T.StructField("score", _T.IntegerType(), True)]
    )
    widened = _T.StructType(
        PAGES_SCHEMA.fields + [_T.StructField("score", _T.LongType(), True)]
    )

    def rows(schema, urls, score_val):
        return spark.createDataFrame(
            [
                (u, datetime(2024, 1, 1), 1, None, "t", "en", "crawl", "fp",
                 score_val)
                for u in urls
            ],
            schema,
        )

    root = str(tmp_path / "ase")
    t = LakeTable.create(spark, root, scored, n_buckets=4)
    t.overwrite_buckets(rows(scored, ["seed"], 1), list(range(4)))
    other = LakeTable.load(spark, root)
    sid_write = t.manifest()["current_schema_id"]

    # fire the intruder between the append's parquet write (manifest call
    # #1 fixes the write-time schema) and its commit-loop re-read (call #2)
    orig_manifest = t.manifest
    armed = {"calls": 0}

    def racy_manifest(version=None):
        armed["calls"] += 1
        if armed["calls"] == 2:
            other.overwrite_buckets(
                rows(widened, ["evolved"], 2**40), list(range(4)),
                new_schema=widened,
                parent_version=other.current_version(),
            )
        return orig_manifest(version)

    t.manifest = racy_manifest
    t.append_buckets(rows(scored, ["appended"], 7))
    t.manifest = orig_manifest

    m = t.manifest()
    assert m["current_schema_id"] != sid_write  # evolution really landed
    appended = [
        e
        for es in m["buckets"].values()
        for e in es
        if "/a-" in e["path"]
    ]
    assert appended and all(e["schema_id"] == sid_write for e in appended)
    # the mixed-schema table reads end-to-end: old-id groups up-cast
    got = {r["url"]: r["score"] for r in t.read().collect()}
    assert got == {"evolved": 2**40, "appended": 7}
    assert dict(t.read().dtypes)["score"] == "bigint"


def test_append_racing_rescale_raises_not_misbuckets(spark, tmp_path):
    """A fast-append whose files were bucketed under the OLD geometry must
    never re-attach them after a concurrent rescale_buckets lands — bucket
    id b under pmod(h, 4) holds different keys than b under pmod(h, 16),
    so bucket-pruned reads would silently miss the appended rows.  The
    commit loop raises CommitConflictError even with retries remaining
    (the re-plan needs a re-bucketed WRITE, which appends can't do from
    already-written files)."""
    import pytest as _pytest

    from adsimportpipeline_spark.lake.table import CommitConflictError

    root = str(tmp_path / "ars")
    t = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    t.overwrite_buckets(_rows(spark, ["seed"]), list(range(4)))
    other = LakeTable.load(spark, root)

    # fire the rescale between the append's parquet write (manifest call
    # #1 fixes nb=4) and its commit-loop re-read (call #2)
    orig_manifest = t.manifest
    armed = {"calls": 0}

    def racy_manifest(version=None):
        armed["calls"] += 1
        if armed["calls"] == 2:
            other.rescale_buckets(16)
        return orig_manifest(version)

    t.manifest = racy_manifest
    with _pytest.raises(CommitConflictError):
        t.append_buckets(_rows(spark, ["appended"]), retries=5)
    assert armed["calls"] == 2  # raised on its first attempt: no re-plan
    t.manifest = orig_manifest

    # the rescale's snapshot is intact; no old-geometry file was attached
    m = t.manifest()
    assert m["n_buckets"] == 16
    assert not any(
        "/a-" in e["path"] for es in m["buckets"].values() for e in es
    )
    assert {r["url"] for r in t.read().collect()} == {"seed"}
    # the caller's re-plan (a fresh append under the new geometry) works
    t.append_buckets(_rows(spark, ["appended"]))
    assert {r["url"] for r in t.read().collect()} == {"seed", "appended"}


@pytest.mark.parametrize("method", ["compact", "rescale_buckets", "compact_appends"])
def test_compact_retries_absorbs_one_conflict(spark, tmp_path, method):
    """Maintenance-path retry contract, for every writer that takes
    ``retries``: racing another committer it raises by default; with
    ``retries=1`` it re-plans against the fresh snapshot once and lands on
    top of it without reverting the intruder's rows or tombstones."""
    from adsimportpipeline_spark.lake.table import CommitConflictError
    from adsimportpipeline_spark.schema import TOMBSTONE_SCHEMA

    args = (8,) if method == "rescale_buckets" else ()
    root = str(tmp_path / "cr")
    t = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    for b in range(2):  # two tombstone files: compact_appends has work to do
        tombs = t.write_append(_tomb_rows(spark, 1, b).coalesce(1), "tomb")
        t.overwrite_buckets(_rows(spark, ["seed"]), list(range(4)),
                            appends=lambda _report: {"tombstone_files": tombs})
    other = LakeTable.load(spark, root)

    # ONE intruder hook for every writer: a commit by another writer lands
    # between the tested commit's plan and its publish
    orig_commit = t._commit_manifest
    armed = {"shots": 0, "fired": 0}

    def racy_commit(m, parent_version=None, create_only=False):
        if armed["shots"] > 0:
            armed["shots"] -= 1
            armed["fired"] += 1
            k = 10 + armed["fired"]  # each intruder writes its own rows
            tombs = other.write_append(_tomb_rows(spark, 1, k).coalesce(1), "tomb")
            other.overwrite_buckets(
                _rows(spark, [f"intruder{k}"]), list(range(4)),
                appends=lambda _report: {"tombstone_files": tombs},
            )
        return orig_commit(m, parent_version=parent_version, create_only=create_only)

    t._commit_manifest = racy_commit
    v_before = t.current_version()
    armed["shots"] = 1
    with pytest.raises(CommitConflictError):
        getattr(t, method)(*args, retries=0)
    assert t.current_version() == v_before + 1  # only the intruder landed

    armed["shots"] = 1
    getattr(t, method)(*args, retries=1)
    assert armed["shots"] == 0
    assert t.current_version() == v_before + 3  # two intruders + the retry
    # the retry re-planned on the CURRENT snapshot: the second intruder's
    # rows and both intruders' tombstones survive
    assert {r["url"] for r in t.read().collect()} == {"intruder12"}
    tomb_urls = {r["url"] for r in t.read_tombstones(TOMBSTONE_SCHEMA).collect()}
    assert tomb_urls == {"u0-0", "u1-0", "u11-0", "u12-0"}


def test_crash_leftover_manifest_does_not_conflict(spark, tmp_path):
    """A crashed commit's leftover version file (claimed but _CURRENT never
    flipped) must not raise a conflict for the next live writer — the claim
    loop skips it and revalidation compares against _CURRENT only."""
    import json
    import os

    root = str(tmp_path / "crash")
    t = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    t.overwrite_buckets(_rows(spark, ["seed"]), list(range(4)))
    parent = t.current_version()
    # simulate a crashed commit: version file parent+1 exists, _CURRENT unchanged
    leftover = dict(t.manifest())
    leftover["version"] = parent + 1
    with open(t._manifest_path(parent + 1), "w") as f:
        json.dump(leftover, f)
    assert t.current_version() == parent

    t.overwrite_buckets(_rows(spark, ["next"]), list(range(4)),
                        parent_version=parent)
    assert {r["url"] for r in t.read().collect()} == {"next"}
    assert t.current_version() == parent + 2  # landed past the leftover
    assert not [f for f in os.listdir(os.path.join(root, "_manifests"))
                if ".tmp-" in f]


def test_remove_orphans_cleans_crashed_commit_only(spark, tmp_path):
    """A crashed commit fully writes its data directory but never flips the
    manifest — expire_snapshots can't reach it (it walks manifests), so
    remove_orphans must: delete unreferenced files past the grace window,
    keep every manifest-referenced file, and keep young unreferenced files
    (they may belong to an in-flight commit)."""
    import os
    import time

    t = LakeTable.create(spark, str(tmp_path / "t6"), PAGES_SCHEMA, n_buckets=2)
    t.overwrite_buckets(_rows(spark, ["u1", "u2"]), [0, 1], epoch_source="cdc", epoch=0)
    live_rows = {tuple(r) for r in t.read().collect()}

    # simulate a crashed commit: a fully-written data dir, no manifest
    crashed = os.path.join(t.root, "data", "c-crashedcommit")
    _rows(spark, ["zombie"]).write.mode("overwrite").parquet(crashed)
    old = time.time() - 7200
    for dirpath, _d, files in os.walk(crashed):
        for f in files:
            os.utime(os.path.join(dirpath, f), (old, old))

    # a YOUNG unreferenced dir = maybe an in-flight commit: must survive
    inflight = os.path.join(t.root, "data", "c-inflight")
    _rows(spark, ["young"]).write.mode("overwrite").parquet(inflight)

    removed = t.remove_orphans(older_than_sec=3600)
    assert removed and all("c-crashedcommit" in p for p in removed)
    assert not os.path.exists(crashed)  # empty dirs pruned
    assert os.path.isdir(inflight)  # grace window respected
    assert {tuple(r) for r in t.read().collect()} == live_rows  # live data intact


def test_read_changes_insert_update_delete(spark, tmp_path):
    """Snapshot-diff changelog (Delta CDF analog): net insert/update/delete
    classification between two versions, delete rows carrying pre-images,
    null-field rows comparing equal (exact null-safe struct compare)."""
    t = LakeTable.create(spark, str(tmp_path / "c1"), PAGES_SCHEMA, n_buckets=4)

    def rows(spec):  # spec: url -> (text, lang)
        return spark.createDataFrame(
            [
                (u, datetime(2024, 1, 1), 1, None, txt, lang, "crawl", "fp")
                for u, (txt, lang) in spec.items()
            ],
            PAGES_SCHEMA,
        )

    # v_from: a (with a NULL lang), b, c
    t.overwrite_buckets(
        rows({"a": ("ta", None), "b": ("tb", "en"), "c": ("tc", "de")}),
        list(range(4)),
    )
    v_from = t.current_version()
    # v_to: a unchanged (null lang must NOT read as a change), b updated,
    # c deleted, d inserted
    t.overwrite_buckets(
        rows({"a": ("ta", None), "b": ("tb2", "en"), "d": ("td", "fr")}),
        list(range(4)),
    )
    v_to = t.current_version()

    ch = {
        r["url"]: r
        for r in t.read_changes(v_from, v_to).collect()
    }
    assert set(ch) == {"b", "c", "d"}  # 'a' is unchanged despite null field
    assert ch["d"]["_change_type"] == "insert" and ch["d"]["text"] == "td"
    assert ch["b"]["_change_type"] == "update_postimage" and ch["b"]["text"] == "tb2"
    assert ch["c"]["_change_type"] == "delete" and ch["c"]["text"] == "tc"  # pre-image
    assert all(r["_commit_version"] == v_to for r in ch.values())

    # preimage mode: the update additionally yields its old row
    pre = [
        r
        for r in t.read_changes(v_from, v_to, include_preimages=True).collect()
        if r["_change_type"] == "update_preimage"
    ]
    assert len(pre) == 1 and pre[0]["url"] == "b" and pre[0]["text"] == "tb"

    # identical endpoints -> empty changelog
    assert t.read_changes(v_to, v_to).count() == 0
    # reversed range is a caller error, not a silent empty result
    import pytest

    with pytest.raises(ValueError):
        t.read_changes(v_to, v_from)


def test_read_changes_compaction_invisible_and_bucket_pruned(spark, tmp_path):
    """A pure compaction diffs to zero rows (net semantics), and unchanged
    buckets are never read: the changed-bucket set is derived from manifest
    file-entry identity, so the scan excludes every carried-forward bucket."""
    t = LakeTable.create(spark, str(tmp_path / "c2"), PAGES_SCHEMA, n_buckets=8)
    urls = [f"u{i}" for i in range(40)]
    t.overwrite_buckets(_rows(spark, urls), list(range(8)))
    v1 = t.current_version()

    # touch ONLY the bucket containing 'u0' (copy-on-write single-bucket
    # commit): everything else carries forward by reference
    by_bucket = (
        _rows(spark, urls).select("url", bucket_expr("url", 8).alias("b")).collect()
    )
    b0 = next(r["b"] for r in by_bucket if r["url"] == "u0")
    keep = [r["url"] for r in by_bucket if r["b"] == b0 and r["url"] != "u0"]
    t.overwrite_buckets(_rows(spark, keep), [b0])  # u0 deleted, bucket rewritten
    v2 = t.current_version()

    out = t.read_changes(v1, v2)
    # pruning: every parquet path feeding the diff lives in the touched bucket
    scanned = {p.split("://", 1)[-1] for p in out.inputFiles()}
    m1, m2 = t.manifest(v1), t.manifest(v2)
    allowed = {e["path"] for m in (m1, m2) for e in m["buckets"].get(str(b0), [])}
    assert scanned and scanned <= allowed
    got = out.collect()
    assert [(r["url"], r["_change_type"]) for r in got] == [("u0", "delete")]

    # compaction rewrites every bucket's files but no rows -> empty diff
    t.compact()
    assert t.read_changes(v2, t.current_version()).count() == 0


def _rows_at(spark, urls, ts):
    return spark.createDataFrame(
        [(u, ts, 1, None, "t", "en", "crawl", "fp") for u in urls],
        PAGES_SCHEMA,
    )


def test_column_stats_prune_range_reads(spark, tmp_path):
    """Manifest column metrics (Iceberg data-skipping analog): per-file
    [min, max] on opted-in columns let read_range skip files whose bounds
    prove them disjoint from the window — a warc_ts time slice reads only
    the commits that overlap it, not the whole url-hash-bucketed table."""
    t = LakeTable.create(
        spark, str(tmp_path / "ts"), PAGES_SCHEMA, n_buckets=4,
        stats_cols=["warc_ts"],
    )
    jan = datetime(2024, 1, 15)
    jun = datetime(2024, 6, 15)
    dec = datetime(2024, 12, 15)
    t.overwrite_buckets(_rows_at(spark, [f"a{i}" for i in range(20)], jan), list(range(4)))
    t.append_buckets(_rows_at(spark, [f"b{i}" for i in range(20)], jun))
    t.append_buckets(_rows_at(spark, [f"c{i}" for i in range(20)], dec))

    m = t.manifest()
    entries = [e for es in m["buckets"].values() for e in es]
    assert all("stats" in e and "warc_ts" in e["stats"] for e in entries)

    # a June window must skip every January and December file
    kept, total = t.plan_range("warc_ts", datetime(2024, 6, 1), datetime(2024, 7, 1))
    assert total == len(entries) and 0 < len(kept) < total
    for e in kept:
        assert e["stats"]["warc_ts"][0].startswith("2024-06")

    got = {r["url"] for r in t.read_range(
        "warc_ts", datetime(2024, 6, 1), datetime(2024, 7, 1)).collect()}
    assert got == {f"b{i}" for i in range(20)}

    # open-ended bound + exact predicate still applied on survivors
    got_hi = {r["url"] for r in t.read_range("warc_ts", lo=dec).collect()}
    assert got_hi == {f"c{i}" for i in range(20)}

    # stored stat keys are naive-UTC: parquet footers hand back tz-AWARE
    # datetimes and the '+00:00' rendering used to sort above the naive
    # query key for the same instant, so...
    for e in entries:
        b = e["stats"]["warc_ts"]
        assert "+" not in b[0] and "+" not in b[1]
    # ...BOUNDARY: hi exactly equal to a file's min instant must KEEP that
    # file (it contains in-range rows) — the aware/naive skew silently
    # dropped it before the _stat_key normalization
    got_b = {r["url"] for r in t.read_range("warc_ts", hi=jun).collect()}
    assert got_b == {f"a{i}" for i in range(20)} | {f"b{i}" for i in range(20)}

    # tables that never opted in record no stats and never skip
    t2 = LakeTable.create(spark, str(tmp_path / "nostats"), PAGES_SCHEMA, n_buckets=4)
    t2.overwrite_buckets(_rows_at(spark, ["x"], jan), list(range(4)))
    e2 = [e for es in t2.manifest()["buckets"].values() for e in es]
    assert all("stats" not in e for e in e2)
    kept2, total2 = t2.plan_range("warc_ts", jun, jun)
    assert len(kept2) == total2


def test_range_bounds_of_other_shapes_never_lose_rows(spark, tmp_path):
    """Caller-supplied bounds the stored stat keys can't directly order
    against must degrade to keep-the-file, never to a wrong skip or a
    TypeError.  Three shapes: a STRING bound on a timestamp column (the
    exact predicate accepts it via lit().cast(), but the raw string sorts
    differently from the footers' 'T'-separated microsecond keys — it is
    promoted to that rendering first), an unparseable string, and a
    number bound against string keys (no ordering: no pruning at all)."""
    t = LakeTable.create(
        spark, str(tmp_path / "qb"), PAGES_SCHEMA, n_buckets=4,
        stats_cols=["warc_ts"],
    )
    jan = datetime(2024, 1, 15)
    jun = datetime(2024, 6, 15)
    t.overwrite_buckets(_rows_at(spark, [f"a{i}" for i in range(10)], jan), list(range(4)))
    t.append_buckets(_rows_at(spark, [f"b{i}" for i in range(10)], jun))
    entries = [e for es in t.manifest()["buckets"].values() for e in es]

    # BOUNDARY via string: hi == a June file's min instant, space-separated
    # and fraction-less.  Raw comparison sorted the stored key above the
    # bound and pruned the file; promotion keeps it.
    got = {r["url"] for r in t.read_range("warc_ts", hi="2024-06-15 00:00:00").collect()}
    assert got == {f"a{i}" for i in range(10)} | {f"b{i}" for i in range(10)}
    # and the promoted key still PRUNES when it can (June window skips Jan)
    kept, total = t.plan_range("warc_ts", "2024-06-01 00:00:00", "2024-07-01 00:00:00")
    assert total == len(entries) and 0 < len(kept) < total

    # unparseable string on a time column: plans keep everything (the
    # exact predicate would reject it downstream; planning never throws)
    kept2, total2 = t.plan_range("warc_ts", lo="not a timestamp")
    assert len(kept2) == total2

    # numeric bound vs string stat keys: incomparable, no pruning, no crash
    kept3, total3 = t.plan_range("warc_ts", hi=1718236800)
    assert len(kept3) == total3


def test_create_option_mismatch_raises_not_silently_ignored(spark, tmp_path):
    """Re-creating an existing table with an EXPLICIT stats_cols that
    disagrees with the manifest must raise — a caller expecting
    stats-pruned reads would otherwise silently get full scans forever.
    Option-less reopens (None) stay idempotent: the streaming runners
    re-call create() on every start.  A manifest that still carries the
    removed write-order key opens, and the key is ignored."""
    import pytest as _pytest

    root = str(tmp_path / "opt")
    LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    # idempotent reopen without options: fine
    t = LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4)
    assert t.manifest()["stats_cols"] == []
    # explicit disagreeing options: loud failure
    with _pytest.raises(ValueError, match="stats_cols"):
        LakeTable.create(spark, root, PAGES_SCHEMA, n_buckets=4,
                         stats_cols=["warc_ts"])
    # explicit AGREEING options: still idempotent
    root2 = str(tmp_path / "opt2")
    LakeTable.create(spark, root2, PAGES_SCHEMA, n_buckets=4,
                     stats_cols=["warc_ts"])
    t2 = LakeTable.create(spark, root2, PAGES_SCHEMA, n_buckets=4,
                          stats_cols=["warc_ts"])
    # a manifest written while tables had a write order: opens, key ignored
    m = t2.manifest()
    m["sort_cols"] = ["url"]
    m["version"] += 1
    t2._commit_manifest(m, parent_version=m["version"] - 1)
    LakeTable.create(spark, root2, PAGES_SCHEMA, n_buckets=4, stats_cols=["warc_ts"])
    t2.overwrite_buckets(_rows(spark, ["b", "a"]), [0, 1, 2, 3])
    assert sorted(r.url for r in t2.read().collect()) == ["a", "b"]


def test_column_stats_survive_compaction_and_cas_retry(spark, tmp_path):
    """Compaction rewrites file groups -> fresh bounds; an append that
    loses the CAS re-attaches the SAME immutable files, so its stats ride
    through the retry unchanged."""
    t = LakeTable.create(
        spark, str(tmp_path / "tc"), PAGES_SCHEMA, n_buckets=2,
        stats_cols=["warc_ts"],
    )
    jan = datetime(2024, 1, 15)
    t.overwrite_buckets(_rows_at(spark, ["a", "b", "c"], jan), [0, 1])
    t.append_buckets(_rows_at(spark, ["d"], datetime(2024, 3, 1)))
    t.compact()
    entries = [e for es in t.manifest()["buckets"].values() for e in es]
    assert entries and all("warc_ts" in (e.get("stats") or {}) for e in entries)
    lo = min(e["stats"]["warc_ts"][0] for e in entries)
    hi = max(e["stats"]["warc_ts"][1] for e in entries)
    assert lo.startswith("2024-01") and hi.startswith("2024-03")


def test_rescale_buckets_preserves_state_and_geometry(spark, tmp_path):
    """Bucket-count growth (Iceberg partition-spec evolution analog): one
    CoW commit rewrites the layout under the new pmod geometry; rows,
    epochs, tombstone/lineage branches, column stats, and time travel all
    survive, and the next apply-path commit picks up the new count from
    the manifest."""
    t = LakeTable.create(
        spark, str(tmp_path / "rs"), PAGES_SCHEMA, n_buckets=4,
        stats_cols=["warc_ts"],
    )
    urls = [f"u{i}" for i in range(40)]
    t.overwrite_buckets(_rows(spark, urls), list(range(4)),
                        epoch_source="cdc", epoch=3)
    v_pre = t.current_version()

    t.rescale_buckets(16)
    m = t.manifest()
    assert m["n_buckets"] == 16
    assert t.last_epoch("cdc") == 3  # bookkeeping carries through
    assert {r["url"] for r in t.read().collect()} == set(urls)
    assert t.read(version=v_pre).count() == 40  # time travel intact

    # layout really is the new geometry: every key's rows in its new bucket
    with_b = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", bucket_expr("url", 16).alias("b")).collect()
    for bid in {r["b"] for r in with_b}:
        want = {r["url"] for r in with_b if r["b"] == bid}
        got = {r["url"] for r in t.read_buckets([bid]).collect()}
        assert got == want

    # stats recorded on the rewritten files too
    entries = [e for es in m["buckets"].values() for e in es]
    assert entries and all("warc_ts" in (e.get("stats") or {}) for e in entries)

    # next commit uses the manifest's new count transparently
    t.append_buckets(_rows(spark, ["fresh"]), epoch_source="cdc", epoch=4)
    assert {r["url"] for r in t.read().collect()} == set(urls) | {"fresh"}


def test_stat_key_encoding_is_order_preserving():
    """File skipping compares JSON-encoded bounds; the encoding must be
    order-preserving or a file could be skipped that intersects the
    window.  Property: for timestamps/dates/numbers/strings, compare of
    encodings == compare of values; unsupported types encode to None."""
    from datetime import datetime, timedelta

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from adsimportpipeline_spark.lake.table import _stat_key

    base = datetime(2000, 1, 1)
    ts = st.builds(
        lambda us: base + timedelta(microseconds=us),
        st.integers(min_value=0, max_value=10**15),
    )
    strs = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x10FFFF,
                               blacklist_categories=("Cs",)),
        max_size=64,
    )
    nums = st.integers(min_value=-10**12, max_value=10**12)

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.tuples(ts, ts), st.tuples(strs, strs), st.tuples(nums, nums),
    ))
    def check(pair):
        a, b = pair
        ka, kb = _stat_key(a), _stat_key(b)
        assert ka is not None and kb is not None
        assert (ka < kb) == (a < b) and (ka == kb) == (a == b)

    check()
    assert _stat_key(True) is None and _stat_key(None) is None
    assert _stat_key(b"bytes") is None
    assert _stat_key("x" * 1000) is None  # possibly-truncated: no bound

    # tz-aware footer stats (parquet isAdjustedToUTC=true -> pyarrow hands
    # back aware datetimes) must encode to the SAME key as the naive-UTC
    # query bound for the same instant — the '+00:00' suffix used to sort
    # every aware stat ABOVE its naive twin, skipping files whose min
    # equals the window's hi bound
    from datetime import date, timezone

    utc = timezone(timedelta(0))
    cest = timezone(timedelta(hours=2))
    naive = datetime(2024, 6, 15, 10, 0, 0)
    assert _stat_key(naive.replace(tzinfo=utc)) == _stat_key(naive)
    assert _stat_key(
        datetime(2024, 6, 15, 12, 0, 0, tzinfo=cest)  # same instant
    ) == _stat_key(naive)
    # order preservation across mixed aware/naive encodings (as instants)
    lo_aware = datetime(2024, 6, 15, 9, 59, 59, tzinfo=utc)
    assert _stat_key(lo_aware) < _stat_key(naive)
    # date bounds promote to midnight so they compare correctly against
    # timestamp-column stats (a bare ISO date sorts BELOW the same day's
    # midnight timestamp and used to mis-skip boundary files)
    assert _stat_key(date(2024, 6, 15)) == _stat_key(datetime(2024, 6, 15))
    assert _stat_key(date(2024, 6, 15)) < _stat_key(
        datetime(2024, 6, 15, 0, 0, 0, 1)
    )


def test_read_changes_across_rescale_is_net_and_quiet(spark, tmp_path):
    """Changelog semantics survive partition evolution: a pure rescale
    rewrites every file group under a new bucket geometry but changes no
    rows, so read_changes across it diffs to ZERO rows; a rescale plus a
    real upsert surfaces exactly the upsert."""
    t = LakeTable.create(spark, str(tmp_path / "crs"), PAGES_SCHEMA, n_buckets=4)
    t.overwrite_buckets(_rows(spark, ["a", "b", "c"]), list(range(4)))
    v0 = t.current_version()
    t.rescale_buckets(16)
    v1 = t.current_version()
    assert t.read_changes(v0, v1).count() == 0  # cosmetic rewrite: invisible

    t.append_buckets(_rows(spark, ["d"]))
    v2 = t.current_version()
    ch = {(r["url"], r["_change_type"]) for r in t.read_changes(v0, v2).collect()}
    assert ch == {("d", "insert")}
