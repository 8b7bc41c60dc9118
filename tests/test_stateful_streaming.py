"""applyInPandasWithState in-stream LWW: decisions across micro-batches must
reproduce the global LWW outcome the pure-Python oracle computes — late,
out-of-order and duplicated events decided from streaming STATE, no table
reads."""

from __future__ import annotations

from adsimportpipeline_spark.datagen import GenSpec, generate_change_log, write_change_log
from adsimportpipeline_spark.sources.changelog import stream_change_log
from adsimportpipeline_spark.streaming.stateful import stateful_lww_decisions


def test_stateful_lww_matches_oracle(spark, tmp_path):
    from adsimportpipeline_spark.datagen import replay_oracle

    spec = GenSpec(n_events=3000, n_urls=200, seed=7)
    log = str(tmp_path / "log")
    write_change_log(spark, log, spec, n_files=6)

    stream = stream_change_log(spark, log, max_files_per_trigger=2)  # 3 batches
    out = stateful_lww_decisions(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("lww_decisions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM lww_decisions").collect()

    events = generate_change_log(spark, spec).collect()
    assert len(rows) == len(events)  # one decision per event

    pages, _ = replay_oracle([r.asDict() for r in events])
    # oracle winner per url including deletes-as-winners
    best: dict[str, tuple] = {}
    for ev in events:
        k = (ev["warc_ts"], ev["log_offset"])
        if ev["url"] not in best or k > best[ev["url"]]:
            best[ev["url"]] = k

    applied: dict[str, tuple] = {}
    for r in rows:
        if r["decision"] != "apply":
            continue
        k = (r["warc_ts"], r["log_offset"])
        # every apply is strictly newer than the previous applies of its url
        assert r["url"] not in applied or k > applied[r["url"]]
        applied[r["url"]] = max(applied.get(r["url"], k), k)

    assert applied == best  # last apply per url IS the global LWW winner

    # deterministic decision mix: duplicates exist in the generated log
    kinds = {r["decision"] for r in rows}
    assert kinds == {"apply", "stale", "duplicate"}


def test_stateful_first_event_pre_epoch_is_applied(spark, tmp_path):
    """Absence of state is the fresh-url sentinel: a url whose FIRST-ever
    event carries a pre-1970 warc_ts (negative epoch micros — corrupted or
    zero-adjusted crawl data) must be 'apply', not 'stale'.  A magic
    (-1, -1) high-water mark classified it as stale and silently dropped
    it."""
    from datetime import datetime, timezone

    from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA

    pre = datetime(1969, 12, 30, tzinfo=timezone.utc).replace(tzinfo=None)
    post = datetime(1970, 1, 2)
    rows = [
        ("u-pre", pre, 1, "insert", b"<p>old</p>", "en", "crawl", "fp1"),
        ("u-pre", post, 2, "update", b"<p>new</p>", "en", "crawl", "fp2"),
        ("u-norm", post, 3, "insert", b"<p>x</p>", "en", "crawl", "fp3"),
    ]
    log = str(tmp_path / "prelog")
    spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).write.parquet(log)

    stream = stream_change_log(spark, log, max_files_per_trigger=10)
    q = (
        stateful_lww_decisions(stream)
        .writeStream.format("memory")
        .queryName("pre_epoch_decisions")
        .option("checkpointLocation", str(tmp_path / "preckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["url"], r["log_offset"]): r["decision"]
        for r in spark.sql("SELECT * FROM pre_epoch_decisions").collect()
    }
    assert got[("u-pre", 1)] == "apply"   # pre-epoch first sight
    assert got[("u-pre", 2)] == "apply"   # strictly newer
    assert got[("u-norm", 3)] == "apply"
