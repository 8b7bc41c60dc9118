"""The apply path: one bucket-keyed LWW merge over batch ∪ stored rows ∪
tombstones decides which events apply.  Each case is checked against
``replay_oracle`` (a pure-Python global LWW over everything delivered),
plus the rows the batch's commit inserted or updated (``read_changes``),
which shows what the batch actually applied rather than only what the
table ends up holding."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log, replay_oracle
from adsimportpipeline_spark.lake.table import LakeTable
from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA, PAGES_SCHEMA, TOMBSTONE_SCHEMA

BASE = datetime(2024, 1, 1)


def _ev(url: str, ts: int, off: int, op: str = "update", body: str = "") -> dict:
    return {
        "url": url,
        "warc_ts": BASE + timedelta(seconds=ts),
        "log_offset": off,
        "op": op,
        "html": f"<html><body><p>{url} {body or off}</p></body></html>".encode(),
        "lang": "en",
        "source_origin": "test",
        "fingerprint": f"fp{off}",
    }


def _apply(spark, table, rows: list[dict], batch_id: int) -> list:
    """apply_batch one hand-written batch; returns the applied upserts as
    (url, log_offset) pairs: the rows its commit inserted or updated.  An
    applied event is strictly newer than the row it replaces, so its row
    always differs from the stored one."""
    before = table.current_version()
    apply_batch(table, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), batch_id)
    changes = table.read_changes(before).filter(F.col("_change_type") != "delete")
    return sorted((r.url, r.log_offset) for r in changes.collect())


def _rows(table) -> list[tuple]:
    return sorted(
        (r.url, r.warc_ts, r.log_offset, bytes(r.html), r.text, r.lang, r.fingerprint)
        for r in table.read().collect()
    )


def _assert_matches_oracle(table, delivered: list[dict]) -> None:
    pages, tombs = replay_oracle(delivered)
    got = _rows(table)
    assert len(got) == len({r[0] for r in got}), "duplicate url rows"
    assert got == sorted(
        (p["url"], p["warc_ts"], p["log_offset"], p["html"], p["text"], p["lang"],
         p["fingerprint"])
        for p in pages.values()
    )
    got_tombs = sorted(
        (r.url, r.deleted_ts, r.log_offset)
        for r in table.read_tombstones(TOMBSTONE_SCHEMA).collect()
    )
    assert got_tombs == tombs


def test_redelivery_under_new_batch_id_is_not_reapplied(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=4)
    b0 = [_ev("u1", 10, 0), _ev("u2", 10, 1), _ev("u3", 10, 2)]
    _apply(spark, table, b0, 0)
    # the same u1 event again, under a new batch id, next to a real update
    b1 = [_ev("u1", 10, 0), _ev("u2", 20, 3)]
    assert _apply(spark, table, b1, 1) == [("u2", 3)]
    _assert_matches_oracle(table, b0 + b1)


def test_tombstone_tie_blocks_and_newer_event_resurrects(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=4)
    b0 = [_ev("u1", 10, 0), _ev("u2", 10, 1)]
    b1 = [_ev("u1", 20, 2, op="delete")]
    # an upsert whose (warc_ts, log_offset) equals the latest tombstone's
    b2 = [_ev("u1", 20, 2, body="tie"), _ev("u2", 30, 3)]
    b3 = [_ev("u1", 20, 4, body="newer")]
    _apply(spark, table, b0, 0)
    _apply(spark, table, b1, 1)
    assert _apply(spark, table, b2, 2) == [("u2", 3)]
    _assert_matches_oracle(table, b0 + b1 + b2)
    assert "u1" not in {r[0] for r in _rows(table)}
    assert _apply(spark, table, b3, 3) == [("u1", 4)]
    _assert_matches_oracle(table, b0 + b1 + b2 + b3)


def test_duplicate_deliveries_of_winner_give_one_row(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=4)
    b0 = [_ev("u1", 10, 0), _ev("u2", 10, 1)]
    b1 = [_ev("u1", 20, 5)] * 3 + [_ev("u1", 15, 4), _ev("u2", 20, 6)] * 2
    _apply(spark, table, b0, 0)
    assert _apply(spark, table, b1, 1) == [("u1", 5), ("u2", 6)]
    _assert_matches_oracle(table, b0 + b1)


def test_delete_only_batch_empties_its_bucket(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=1)
    b0 = [_ev(f"u{i}", 10, i) for i in range(5)]
    b1 = [_ev(f"u{i}", 20, 10 + i, op="delete") for i in range(5)]
    _apply(spark, table, b0, 0)
    assert _apply(spark, table, b1, 1) == []
    _assert_matches_oracle(table, b0 + b1)
    assert table.read().count() == 0
    assert table.manifest()["buckets"]["0"] == []


def test_stored_text_survives_a_bucket_rewrite(spark, tmp_path):
    """Text is extracted for batch winners only: a stored row whose ``text``
    is not ``extract_text_str(html)`` keeps it byte for byte when a batch
    rewrites its bucket, and the batch's own row gets the extracted text."""
    from adsimportpipeline_spark.functions.html import extract_text_str

    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=1)
    stored = _ev("kept", 10, 0)
    stored.pop("op")
    text = " stored\u00a0text ≠ extract(html)\n\t"
    assert text != extract_text_str(stored["html"])
    table.overwrite_buckets(spark.createDataFrame([{**stored, "text": text}], PAGES_SCHEMA), [0])
    assert _apply(spark, table, [_ev("new", 20, 1)], 0) == [("new", 1)]
    got = {r.url: r.text for r in table.read().collect()}
    assert got["kept"].encode() == text.encode()
    assert got["new"] == extract_text_str(_ev("new", 20, 1)["html"])


def _spread_deletes(spark, n_buckets: int) -> list[dict]:
    """A batch with a delete in every bucket, one bucket (0) holding most of
    the deletes, upserts next to them, and one delete delivered twice."""
    from adsimportpipeline_spark.lake.table import bucket_expr

    urls = [f"url-z{i:03d}" for i in range(200)]  # no substring of a uuid path
    bucket_of = {r.url: r.b for r in spark.createDataFrame([(u,) for u in urls], "url string")
                 .select("url", bucket_expr("url", n_buckets).alias("b")).collect()}
    heavy = [u for u in urls if bucket_of[u] == 0]
    light = [next(u for u in urls if bucket_of[u] == b) for b in range(1, n_buckets)]
    rows = [_ev(u, 10, i) for i, u in enumerate(urls)]
    rows += [_ev(u, 20, 1000 + i, op="delete") for i, u in enumerate(heavy + light)]
    rows.append(rows[-1])  # the same delete event again
    return rows


def _events_by_bucket(spark, rows: list[dict], n_buckets: int) -> list[tuple]:
    """Plain Spark count/min/max of ``rows`` per table bucket."""
    from adsimportpipeline_spark.lake.table import bucket_expr

    agg = (spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
           .groupBy(bucket_expr("url", n_buckets).alias("b"))
           .agg(F.min("log_offset"), F.max("log_offset"), F.count(F.lit(1))))
    return sorted(tuple(r) for r in agg.collect())


@pytest.mark.parametrize("preload", [False, True], ids=["fresh", "populated"])
def test_writer_emits_tombstone_audit_and_lineage(spark, tmp_path, monkeypatch, preload):
    """The bucket writer writes the tombstone audit and reports the lineage,
    on a fresh table and on a populated one: the audit holds the distinct
    delete events delivered, each batch's lineage (latency aside) equals a
    plain per-bucket count/min/max of its events, and no delete event
    reaches the driver."""
    from adsimportpipeline_spark.schema import LINEAGE_SCHEMA

    nb = 8
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=nb)
    batches = [_spread_deletes(spark, nb)]
    if preload:
        stored = [_ev(f"url-z{i:03d}", 5, 5000 + i) for i in range(0, 200, 3)]
        stored += [_ev(f"url-z{i:03d}", 6, 6000 + i, op="delete") for i in range(1, 200, 7)]
        batches.insert(0, stored)

    seen: list[str] = []  # every value the driver collects during the applies
    frame = type(spark.range(1))  # the session's DataFrame class
    for name in ("toArrow", "collect", "toPandas"):
        orig = getattr(frame, name)

        def _spy(self, *a, _orig=orig, **k):
            out = _orig(self, *a, **k)
            seen.append(repr(out.to_pylist() if hasattr(out, "to_pylist") else out))
            return out

        monkeypatch.setattr(frame, name, _spy)
    for i, rows in enumerate(batches):
        apply_batch(table, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), i)
    monkeypatch.undo()

    delivered = [e for b in batches for e in b]
    _assert_matches_oracle(table, delivered)
    deletes = {(e["url"], e["warc_ts"], e["log_offset"]) for e in delivered if e["op"] == "delete"}
    got = table.read_tombstones(TOMBSTONE_SCHEMA).collect()
    assert sorted((r.url, r.deleted_ts, r.log_offset) for r in got) == sorted(deletes)
    assert {r.key for r in got} == {"deleted"}
    lineage = table.read_lineage(LINEAGE_SCHEMA).collect()
    for i, rows in enumerate(batches):
        mine = sorted((r.partition_id, r.offset_start, r.offset_end, r.rows_applied)
                      for r in lineage if r.batch_id == i and r.commit_epoch == i)
        assert mine == _events_by_bucket(spark, rows, nb)
    assert len(lineage) == sum(len(_events_by_bucket(spark, b, nb)) for b in batches)
    assert seen, "the spy must see the apply's collects"
    assert not [u for u, _, _ in deletes if any(u in s for s in seen)]


#: Spark jobs one warm apply_batch of a small batch into a populated table
#: (stored rows and tombstones in every touched bucket) may launch: the
#: touched-bucket collect and the data write, 2 AQE jobs each.  It launched
#: 10 while the tombstone audit (4 jobs, with its anti-join) and lineage (2)
#: were Spark writes of their own, 15 before the bucket-keyed merge, and 21
#: with the stale-filter/guard path's measuring count() and persisted
#: applied rows.
MAX_APPLY_JOBS = 4

#: The same for a bulk apply into a fresh table, which runs the same merge
#: with nothing stored to prune: the data write alone, whose writer also
#: emits the tombstone audit and lineage.  It launched 4 with the
#: touched-bucket collect in front, 6 on a path of its own (key-only LWW
#: aggregate, winner join, extract, Spark parquet write), and 11 with the
#: Spark-written audit and lineage.
MAX_BULK_APPLY_JOBS = 2


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, from the status tracker."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def test_warm_apply_job_count(spark, tmp_path):
    """Regression guard on the fixed per-batch cost: a re-added persist,
    measuring count() or Spark-side append adds jobs and fails here, on a
    warm apply into a populated table and on a bulk apply into a fresh
    one."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=3000, n_urls=300, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    bulk = []
    for i in range(3):
        table = LakeTable.create(spark, str(tmp_path / f"t{i}"), PAGES_SCHEMA, n_buckets=8)
        bulk.append(_jobs_of(spark, lambda: apply_batch(table, ev.filter("log_offset < 2000"), 0)))

    counts = []
    for i, lo in enumerate((2000, 2300, 2600), start=1):
        batch = ev.filter(F.col("log_offset").between(lo, lo + 299))
        counts.append(_jobs_of(spark, lambda: apply_batch(table, batch, i)))
    assert table.manifest()["tombstone_files"], "the guard rival must be exercised"
    # the first of each is warm-up (python workers, codegen)
    assert max(bulk[1:]) <= MAX_BULK_APPLY_JOBS, bulk
    assert max(counts[1:]) <= MAX_APPLY_JOBS, counts


def _job_descriptions(spark, fn) -> tuple[list, int]:
    """The description of each Spark job ``fn()`` launches, from the status
    tracker's store, and the number of SQL executions it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = sc._jsc.sc().statusStore()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList
    bus.waitUntilEmpty()
    before, n_execs = set(sc.statusTracker().getJobIdsForGroup(None)), execs().size()
    fn()
    bus.waitUntilEmpty()
    jobs = sorted(set(sc.statusTracker().getJobIdsForGroup(None)) - before)
    described = [store.job(j).description() for j in jobs]
    return [d.get() if d.isDefined() else None for d in described], execs().size() - n_execs


def test_apply_jobs_are_named_by_layer(spark, tmp_path):
    """Every job of an apply carries its layer's name: a fresh-table apply is
    ONE SQL execution of 2 ``apply.write`` jobs; a populated-table apply adds
    the ``apply.discover`` query.  The caller's job description is restored
    after each."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=1500, n_urls=200, seed=4)).write.parquet(log)
    ev = spark.read.parquet(log)
    sc = spark.sparkContext
    for i in range(2):  # the first is warm-up (python workers, codegen)
        table = LakeTable.create(spark, str(tmp_path / f"t{i}"), PAGES_SCHEMA, n_buckets=8)
        sc.setJobDescription("caller")
        fresh, n_execs = _job_descriptions(
            spark, lambda: apply_batch(table, ev.filter("log_offset < 1000"), 0))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    assert fresh == ["apply.write"] * 2 and n_execs == 1, (fresh, n_execs)

    sc.setJobDescription(None)
    populated, _ = _job_descriptions(
        spark, lambda: apply_batch(table, ev.filter("log_offset >= 1000"), 1))
    assert sc.getLocalProperty("spark.job.description") is None
    assert set(populated) == {"apply.discover", "apply.write"}, populated
    assert len(populated) <= MAX_APPLY_JOBS, populated


def test_building_plans_runs_no_job(spark, tmp_path):
    """Building a plan runs no Spark job: the LSH band rows of a batch's
    winners (a frame behind the LWW exchange is not fanned out, so its
    partition count is never asked for), and the apply's merge against a
    populated table with tombstones."""
    from adsimportpipeline_spark.apply import _merged_winners, pages_schema_for
    from adsimportpipeline_spark.evolve import reconcile_schema
    from adsimportpipeline_spark.operators.incremental_dedup import band_rows, batch_winner_texts

    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=2000, n_urls=200, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    apply_batch(table, ev.filter("log_offset < 1500"), 0)
    m = table.manifest()
    assert m["tombstone_files"] and any(m["buckets"].values())
    batch = ev.filter("log_offset >= 1500")

    assert _jobs_of(spark, lambda: band_rows(batch_winner_texts(batch))) == 0
    target = reconcile_schema(table.schema(m), pages_schema_for(batch.schema))
    assert _jobs_of(spark, lambda: _merged_winners(table, m, batch, list(range(8)), target)) == 0


def test_fold_rule_bounds_the_append_branches(spark, tmp_path, monkeypatch):
    """The lake's one fold rule (``LakeTable.fold_due``, run by
    ``apply_batch`` after its commit) at a bound of 3 files, over 8 applies
    with deletes in every batch: neither the tombstone nor the lineage
    branch ever holds more than the bound plus the files one apply adds,
    and the folded table reads the same rows, tombstones and lineage as an
    unfolded twin."""
    from adsimportpipeline_spark.lake import table as lake
    from adsimportpipeline_spark.schema import LINEAGE_SCHEMA

    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=2400, n_urls=200, seed=5)).write.parquet(log)
    ev = spark.read.parquet(log)
    batches = [ev.filter(F.col("log_offset").between(k * 300, k * 300 + 299)) for k in range(8)]
    assert all(b.filter("op = 'delete'").count() for b in batches)
    branches = ("tombstone_files", "lineage_files")
    folded = LakeTable.create(spark, str(tmp_path / "folded"), PAGES_SCHEMA, n_buckets=4)
    twin = LakeTable.create(spark, str(tmp_path / "twin"), PAGES_SCHEMA, n_buckets=4)

    def sizes(t):
        m = t.manifest()
        return [len(m[b]) for b in branches]

    committed = []  # branch sizes after each data commit, before its fold
    fold = folded.fold_due
    monkeypatch.setattr(folded, "fold_due", lambda: (committed.append(sizes(folded)), fold()))
    folds = 0
    for i, batch in enumerate(batches):
        monkeypatch.setattr(lake, "COMPACT_APPENDS_EVERY", 3)
        before = sizes(folded)
        apply_batch(folded, batch, i)
        after = sizes(folded)
        for n_before, n_committed, n_after in zip(before, committed[-1], after):
            assert n_after <= 3 + (n_committed - n_before), (i, before, committed[-1], after)
        folds += after != committed[-1]
        monkeypatch.setattr(lake, "COMPACT_APPENDS_EVERY", 10**6)
        apply_batch(twin, batch, i)
    assert folds and min(sizes(twin)) > 3  # the rule fired; unfolded, both passed it

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(folded.read()) == rows(twin.read())
    assert rows(folded.read_tombstones(TOMBSTONE_SCHEMA)) == rows(twin.read_tombstones(TOMBSTONE_SCHEMA))
    lin = [t.read_lineage(LINEAGE_SCHEMA).drop("merge_latency_ms") for t in (folded, twin)]
    assert rows(lin[0]) == rows(lin[1])
