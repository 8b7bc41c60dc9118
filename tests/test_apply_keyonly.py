"""The populated-table apply path: one key-only LWW over batch ∪ stored rows ∪
tombstones decides which events apply.  Each case is checked against
``replay_oracle`` (a pure-Python global LWW over everything delivered), plus
the applied-rows frame ``keep_applied`` hands back, which shows what the
batch actually applied rather than only what the table ends up holding."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _apply(spark, table, rows: list[dict], batch_id: int, **kw) -> list:
    """apply_batch one hand-written batch; returns the applied upserts
    as (url, log_offset) pairs."""
    ka: list = []
    try:
        apply_batch(table, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), batch_id,
                    keep_applied=ka, **kw)
        return sorted((r.url, r.log_offset) for r in ka[0].collect()) if ka else []
    finally:
        for c in ka:
            c.unpersist()


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


def test_salted_and_decision_col_match_plain_path(spark, tmp_path):
    """The three ways into the key-only LWW give one table: the plain path,
    ``salted=True`` (two-phase argmax), and ``decision_col`` (pre-resolved
    rows, batch-only union) fed by decisions a state store would make."""
    spec = GenSpec(n_events=1500, n_urls=100, seed=5)
    events = [r.asDict() for r in generate_change_log(spark, spec).collect()]
    batches = [[e for e in events if lo <= e["log_offset"] < lo + 500]
               for lo in (0, 500, 1000)]

    decided_schema = T.StructType(
        CHANGE_EVENT_SCHEMA.fields + [T.StructField("decision", T.StringType())]
    )
    seen: dict[str, tuple] = {}
    tables = {}
    for mode in ("plain", "salted", "decision"):
        table = LakeTable.create(spark, str(tmp_path / mode), PAGES_SCHEMA, n_buckets=8)
        for i, rows in enumerate(batches):
            if mode == "decision":
                # apply iff strictly newer than everything an EARLIER batch
                # delivered for the url (deletes included)
                decided = [dict(e, decision="apply" if e["url"] not in seen
                                or (e["warc_ts"], e["log_offset"]) > seen[e["url"]]
                                else "stale")
                           for e in rows]
                for e in rows:
                    k = (e["warc_ts"], e["log_offset"])
                    seen[e["url"]] = max(seen.get(e["url"], k), k)
                df = spark.createDataFrame(decided, decided_schema)
                apply_batch(table, df, i, decision_col="decision")
            else:
                df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
                apply_batch(table, df, i, salted=(mode == "salted"))
        tables[mode] = table
    _assert_matches_oracle(tables["plain"], events)
    assert _rows(tables["salted"]) == _rows(tables["plain"])
    assert _rows(tables["decision"]) == _rows(tables["plain"])


#: Spark jobs one warm apply_batch of a small batch into a populated table
#: (stored rows and tombstones in every touched bucket) may launch.  The
#: key-only path measured 15; the earlier stale-filter/guard path with its
#: measuring count() and persisted applied rows launched 21.
MAX_APPLY_JOBS = 15


def test_warm_apply_job_count(spark, tmp_path):
    """Regression guard on the fixed per-batch cost: a re-added persist or
    measuring count() adds jobs and fails here.  Jobs are counted from the
    status tracker (it sees jobs of overwrite_buckets' pool threads too)."""
    log = str(tmp_path / "log")
    generate_change_log(spark, GenSpec(n_events=3000, n_urls=300, seed=9)).write.parquet(log)
    ev = spark.read.parquet(log)
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    apply_batch(table, ev.filter("log_offset < 2000"), 0)

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    counts = []
    for i, lo in enumerate((2000, 2300, 2600), start=1):
        batch = ev.filter(F.col("log_offset").between(lo, lo + 299))
        bus.waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        apply_batch(table, batch, i)
        bus.waitUntilEmpty()
        counts.append(len(set(sc.statusTracker().getJobIdsForGroup(None)) - before))
    assert table.manifest()["tombstone_files"], "the guard rival must be exercised"
    # the first of these batches is warm-up (python workers, codegen)
    assert max(counts[1:]) <= MAX_APPLY_JOBS, counts
