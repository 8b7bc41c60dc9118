"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in `.explain` — filter pushdown to the parquet scan, broadcast joins
for small sides, map-side partial aggregation for the LWW dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from adsimportpipeline_spark.operators.lww import lww_dedup, lww_dedup_semi


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("user_id") == 7).select("event_id")
    plan = _plan(df)
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan reads only the needed columns
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "event_id" in read_schema and "props" not in read_schema


def _ev(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("log_offset"),
        "event_type",
    )


def test_semi_lww_join_strategy_adapts(spark, sf_dir):
    """The winner-keys join must not be a hard-coded broadcast: forcing
    broadcast of 10^9 distinct keys in a bulk replay is a driver OOM.
    ``bounded_broadcast`` broadcasts the keys only while their count fits
    the budget ``spark.sql.autoBroadcastJoinThreshold`` sets: this small
    key set is broadcast, and with broadcasts off (a budget of 0 rows) the
    join is shuffled."""
    ev = _ev(spark, sf_dir)
    adaptive = lww_dedup_semi(ev)
    adaptive.collect()  # let AQE finalize
    assert "BroadcastHashJoin" in _plan(adaptive)  # inside the bound

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_shuffled = _plan(lww_dedup_semi(ev))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in p_shuffled and "ShuffledHashJoin" in p_shuffled  # past it


def test_tombstone_guard_no_forced_broadcast(spark, sf_dir):
    """tombstone_guard joins against an unboundedly-growing table; the plan
    must respect the broadcast threshold instead of forcing a broadcast
    (with broadcasts disabled the join degrades to a shuffle, not an OOM)."""
    from adsimportpipeline_spark.operators.cdc import tombstone_guard

    ev = _ev(spark, sf_dir)
    tombs = ev.select("url", "warc_ts", "log_offset")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(tombstone_guard(ev, tombs))
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lww_max_by_has_partial_aggregation(spark, sf_dir):
    """The max_by dedup must pre-reduce map-side (skew safety): the plan
    shows a partial HashAggregate before the exchange."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("log_offset"),
        "event_type",
    )
    plan = _plan(lww_dedup(ev))
    before_exchange = plan.split("(5) Exchange")[0]
    assert "partial_max_by" in plan  # map-side combine exists
    assert "partial_max_by" in before_exchange  # ...and precedes the shuffle


def test_broadcast_join_in_lookup(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey).groupBy("c_mktsegment").count()
    assert "BroadcastHashJoin" in _plan(j)


def test_minhash_pipeline_reuses_shingle_exchange(spark, sf_dir):
    """minhash_dedup_pairs deliberately does NOT persist the shingle frame
    (a long-lived session must never leak pinned storage); instead the
    shingle distinct's exchange must be REUSED across its consumers
    (signatures, the pair verify's two join sides, the size counts).  The
    _stage_reuse_barrier makes every consumer's below-exchange subtree
    canonically identical (blocks RemoveRedundantAggregates on the
    signature branch and inferred isnotnull pushdown on the verify
    branches), so the executed plan must read the documents scan exactly
    ONCE — the scan+regex tokenize+shingle explode map stage runs once
    and everything else reuses its shuffle output.  If this regresses,
    the pipeline recomputes the corpus scan per consumer class."""
    from adsimportpipeline_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.05)
    df.collect()  # AQE finalizes reuse at execution
    plan = _plan(df)
    assert "ReusedExchange" in plan
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert final.count("FileScan parquet") == 1, (
        "documents must be scanned exactly once across all five shingle "
        f"consumers; executed plan has {final.count('FileScan parquet')} scans"
    )


def test_jaccard_verify_builds_pairs_not_shingles(spark, sf_dir):
    """jaccard_verify's join shapes are picked deliberately (guide §3.1):
    Catalyst overestimates the band-join pair subtree, so left to size
    estimates it broadcast-builds the FULL (id, shingle) relation — twice
    (measured: 2.6M-row driver-side builds at a 10x corpus).  The operator
    instead broadcasts the deduped pair list into the first shingle join
    and makes the (id_b, shingle) match a shuffled-hash join with the
    pairs-side intermediate as build.  Pin both: the (id, shingle) match
    must be a ShuffledHashJoin building its left (pairs-side) input, and
    no shingle-keyed broadcast join may reappear."""
    import re

    from adsimportpipeline_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.05)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert re.search(r"ShuffledHashJoin \[id_b#\d+L, shingle#\d+\].*BuildLeft", plan), (
        f"(id_b, shingle) match must be a shuffled-hash join building the "
        f"pairs-side intermediate:\n{plan[:2500]}"
    )
    # no broadcast join may key on the shingle string (that is the old
    # shape: broadcast-building the full shingle relation)
    assert not re.search(r"BroadcastHashJoin \[[^\]]*shingle", plan), (
        f"a shingle-keyed broadcast join re-appeared:\n{plan[:2500]}"
    )


def test_metadata_bound_rejects_non_scan_shapes(spark, sf_dir):
    """The footer row bound is only valid for a single-relation scan with
    Project/Filter on top: a join multiplies rows and a self-union dedupes
    the file list, so both must yield None (else the gate force-broadcasts
    an arbitrarily large relation)."""
    from adsimportpipeline_spark.operators.lww import _metadata_row_upper_bound

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert _metadata_row_upper_bound(ev) is not None
    assert _metadata_row_upper_bound(
        ev.select("event_id").filter(F.col("event_id") > 3)
    ) is not None
    assert _metadata_row_upper_bound(ev.unionByName(ev)) is None
    small = ev.select("event_id")
    assert _metadata_row_upper_bound(ev.join(small, "event_id")) is None
    assert _metadata_row_upper_bound(
        ev.select(F.explode(F.array("event_id", "event_id")).alias("x"))
    ) is None


def test_offset_broadcast_cap_honors_disabled_and_caller_cap(spark):
    """-1 threshold (user disabled broadcast joins) must disable the gate;
    an explicit small caller cap must never be silently raised."""
    from adsimportpipeline_spark.operators.lww import _offset_broadcast_cap_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _offset_broadcast_cap_rows(spark, 4_000_000) == 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        assert _offset_broadcast_cap_rows(spark, 50_000) == 50_000
        assert _offset_broadcast_cap_rows(spark, 100_000_000) == (64 << 20) // 8
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_read_range_pushes_exact_predicate_to_scan(spark, tmp_path):
    """read_range prunes FILES via manifest bounds, then the exact window
    predicate must still reach the parquet scan (PushedFilters) so the
    reader skips row groups inside surviving files too — both layers of
    data skipping, visible in the plan."""
    from datetime import datetime

    from adsimportpipeline_spark.lake.table import LakeTable
    from adsimportpipeline_spark.schema import PAGES_SCHEMA

    t = LakeTable.create(
        spark, str(tmp_path / "pr"), PAGES_SCHEMA, n_buckets=2,
        stats_cols=["warc_ts"],
    )
    rows = spark.createDataFrame(
        [(f"u{i}", datetime(2024, 1, 1 + i % 20), 1, None, "t", "en", "c", "f")
         for i in range(40)],
        PAGES_SCHEMA,
    )
    t.overwrite_buckets(rows, [0, 1])
    df = t.read_range("warc_ts", datetime(2024, 1, 5), datetime(2024, 1, 10))
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "warc_ts" in pushed and ("GreaterThanOrEqual" in pushed or ">=" in pushed)
