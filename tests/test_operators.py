"""Unit tests per operator, mirroring the reference's merge-rule test
strategy (tests/classic/test_merger.py golden cases; SURVEY.md §5)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adsimportpipeline_spark.evolve import align_to_schema, reconcile_schema
from adsimportpipeline_spark.functions.enforce import enforce_blocks
from adsimportpipeline_spark.functions.textstats import lang_id, quality_score, token_count
from adsimportpipeline_spark.operators import merge_rules
from adsimportpipeline_spark.operators.enrich import enrich_affiliations
from adsimportpipeline_spark.operators.lww import (
    lww_dedup,
    lww_dedup_salted,
    lww_dedup_semi,
    lww_dedup_window,
)

PRIO = {"pub": 1.0, "crawl": 0.4}


def _blocks(spark, rows):
    return spark.createDataFrame(
        rows, "url string, origin string, modtime timestamp, content string, off long"
    )


def test_origin_trust_priority_wins(spark):
    """Higher-priority origin beats newer low-priority block (reference
    test_merger.py:43-76: 'STI; IOP' beats SIMBAD)."""
    df = _blocks(
        spark,
        [
            ("u1", "crawl", datetime(2024, 1, 2), "newer-low-prio", 2),
            ("u1", "pub", datetime(2024, 1, 1), "older-high-prio", 1),
        ],
    )
    out = merge_rules.origin_trust_merge(
        df, "url", "origin", PRIO, "modtime", "content", offset_col="off"
    ).collect()
    assert out[0]["content"] == "older-high-prio"


def test_origin_trust_unknown_origin_default(spark):
    """Unknown origin scores DEFAULT_PRIORITY=0.5 (merger.py:305): beats
    crawl(0.4), loses to pub(1.0)."""
    df = _blocks(
        spark,
        [
            ("u1", "mystery", datetime(2024, 1, 1), "unknown-origin", 1),
            ("u1", "crawl", datetime(2024, 1, 2), "crawl", 2),
        ],
    )
    out = merge_rules.origin_trust_merge(
        df, "url", "origin", PRIO, "modtime", "content", offset_col="off"
    ).collect()
    assert out[0]["content"] == "unknown-origin"


def test_equal_trust_fallback_cascade(spark):
    """Equal priority -> later modtime; equal modtime -> longer content;
    then offset (merger.py:320-339)."""
    df = _blocks(
        spark,
        [
            ("u1", "pub", datetime(2024, 1, 1), "old", 1),
            ("u1", "pub", datetime(2024, 1, 2), "new", 2),
            ("u2", "pub", datetime(2024, 1, 1), "short", 3),
            ("u2", "pub", datetime(2024, 1, 1), "looooonger", 4),
        ],
    )
    out = {
        r["url"]: r["content"]
        for r in merge_rules.origin_trust_merge(
            df, "url", "origin", PRIO, "modtime", "content", offset_col="off"
        ).collect()
    }
    assert out == {"u1": "new", "u2": "looooonger"}


def test_take_all_preserves_first_occurrence_order(spark):
    df = spark.createDataFrame(
        [("u", "b", 1), ("u", "a", 2), ("u", "b", 3), ("u", "c", 4)],
        "url string, v string, ord long",
    )
    out = merge_rules.take_all(df, "url", "v", "ord").collect()
    assert out[0]["values"] == ["b", "a", "c"]


def test_take_all_by_priority_sorts_origin_first(spark):
    """Publisher values sort before crawl values regardless of encounter
    order (test_merger.py:78-118 DOI ordering)."""
    df = spark.createDataFrame(
        [("u", "x-crawl", "crawl", 1), ("u", "x-pub", "pub", 2)],
        "url string, v string, origin string, ord long",
    )
    out = merge_rules.take_all_by_priority(df, "url", "v", "origin", PRIO, "ord").collect()
    assert out[0]["values"] == ["x-pub", "x-crawl"]


def test_references_merge_always_append(spark):
    df = spark.createDataFrame(
        [
            ("u", datetime(2024, 1, 1), "pub", ["r1", "r2"]),
            ("u", datetime(2024, 1, 2), "isi", ["r2", "r3"]),
        ],
        "url string, modtime timestamp, origin string, vals array<string>",
    )
    out = merge_rules.references_merge(
        df, "url", "vals", "origin", PRIO, "modtime", always_append_origins=["isi"]
    ).collect()
    assert out[0]["references"] == ["r1", "r2", "r3"]


def test_lww_variants_agree(spark):
    """max_by, salted two-phase, and window formulations are equivalent."""
    from adsimportpipeline_spark.datagen import GenSpec, generate_change_log

    ev = generate_change_log(spark, GenSpec(n_events=3000, n_urls=100, seed=3)).select(
        "url", "warc_ts", "log_offset", "op", "fingerprint"
    )
    a = sorted(map(tuple, lww_dedup(ev).collect()))
    b = sorted(map(tuple, lww_dedup_salted(ev, n_salts=7).collect()))
    c = sorted(map(tuple, lww_dedup_window(ev).collect()))
    d = sorted(map(tuple, lww_dedup_semi(ev).collect()))
    # broadcasts off: the winner keys take the shuffled join
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(threshold)
    try:
        spark.conf.set(threshold, "-1")
        e = sorted(map(tuple, lww_dedup_semi(ev).collect()))
    finally:
        spark.conf.set(threshold, old)
    assert a == b == c == d == e


def test_enforce_blocks_udtf(spark):
    html = b"<html><head><title>T1</title></head><body><p>hello world</p><a href=x>l</a></body></html>"
    df = spark.createDataFrame(
        [("u1", datetime(2024, 1, 1), 1, "crawl", html)],
        "url string, warc_ts timestamp, log_offset long, source_origin string, html binary",
    )
    blocks = {r["block_type"]: r["content"] for r in enforce_blocks(df).collect()}
    assert blocks["meta"] == "T1"
    assert "hello world" in blocks["text"]
    assert blocks["links"] == "1"


def test_enrich_affiliations_matching(spark):
    winners = spark.createDataFrame(
        [("u", "smith, john", None), ("u", "doe, jane", "MIT")],
        "url string, name string, affiliation string",
    )
    losers = spark.createDataFrame(
        [("u", "smith, j.", "Harvard"), ("u", "unrelated name", "X")],
        "url string, name string, affiliation string",
    )
    out = {r["name"]: r for r in enrich_affiliations(winners, losers).collect()}
    assert out["smith, john"]["affiliation"] == "Harvard"  # filled from match
    assert out["doe, jane"]["affiliation"] == "MIT"  # kept, not overwritten


def test_optimal_match_beats_greedy_on_crossing_pairs():
    """Crossing case (reference Kuhn-Munkres, author_match.py:142-264): two
    winners both closest to loser 0.  Greedy locks (0,0) and strands winner 1
    on a 0.1 pair; optimal assignment crosses to (0,1)+(1,0) for higher
    total weight — the divergence VERDICT flagged."""
    import numpy as np

    from adsimportpipeline_spark.operators.enrich import _greedy_match, optimal_match

    sim = np.array([[0.90, 0.80], [0.85, 0.10]])
    greedy = {(i, j) for i, j, _ in _greedy_match(sim)}
    optimal = {(i, j) for i, j, _ in optimal_match(sim)}
    assert greedy == {(0, 0), (1, 1)}
    assert optimal == {(0, 1), (1, 0)}
    assert sum(sim[i, j] for i, j in optimal) > sum(sim[i, j] for i, j in greedy)


def test_optimal_match_rectangular_and_trivial():
    import numpy as np

    from adsimportpipeline_spark.operators.enrich import optimal_match

    # more winners (rows) than losers: only |losers| pairs, still optimal
    sim = np.array([[0.9, 0.1], [0.8, 0.7], [0.2, 0.6]])
    pairs = {(i, j) for i, j, _ in optimal_match(sim)}
    assert pairs == {(0, 0), (1, 1)} or pairs == {(0, 0), (2, 1)}
    assert optimal_match(np.zeros((0, 0))) == []
    # brute-force cross-check on random matrices
    import itertools

    rng = np.random.RandomState(7)
    for _ in range(25):
        n, m = rng.randint(1, 5), rng.randint(1, 5)
        s = rng.rand(n, m)
        got = sum(v for _, _, v in optimal_match(s))
        k = min(n, m)
        best = max(
            sum(s[i, j] for i, j in zip(rows, cols))
            for rows in itertools.permutations(range(n), k)
            for cols in itertools.permutations(range(m), k)
        )
        assert abs(got - best) < 1e-9


def test_schema_evolution_rules():
    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("x", T.LongType()), T.StructField("z", T.DoubleType())])
    out = reconcile_schema(a, b)
    assert [f.dataType.simpleString() for f in out.fields] == ["bigint", "string", "double"]
    with pytest.raises(TypeError):
        reconcile_schema(
            T.StructType([T.StructField("x", T.StringType())]),
            T.StructType([T.StructField("x", T.LongType())]),
        )


def test_align_to_schema(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    target = T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("y", T.StringType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    row = align_to_schema(df, target).collect()[0]
    assert row["x"] == 1 and row["z"] is None
    assert align_to_schema(df, target).schema["x"].dataType == T.LongType()


def test_textstats_basics(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, ""),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in df.select(
        "id", lang_id("text").alias("lang"), token_count("text").alias("n"), quality_score("text").alias("q")
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "de"
    assert out[3]["lang"] == "und" and out[3]["n"] == 0
    assert out[1]["n"] == 8
    assert 0.0 <= out[1]["q"] <= 1.0


def test_tombstone_guard_custom_order_cols(spark):
    """tombstone_guard must honor non-default order_cols for BOTH legs of the
    (ts, offset) comparison — a caller with (ts, event_id) columns gets the
    same stale-vs-resurrect semantics, no hardcoded 'log_offset' anywhere."""
    from adsimportpipeline_spark.operators.cdc import tombstone_guard

    incoming = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 2), 10),  # newer than tomb -> kept
            ("u2", datetime(2024, 1, 1), 5),   # same ts, lower id -> dropped
            ("u3", datetime(2024, 1, 1), 9),   # same ts, higher id -> kept
            ("u4", datetime(2024, 1, 1), 1),   # no tombstone -> kept
        ],
        "url string, ts timestamp, event_id long",
    )
    tombs = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1), 99),
            ("u2", datetime(2024, 1, 1), 7),
            ("u3", datetime(2024, 1, 1), 7),
        ],
        "url string, ts timestamp, event_id long",
    )
    out = tombstone_guard(incoming, tombs, key="url", order_cols=("ts", "event_id"))
    assert sorted(r["url"] for r in out.collect()) == ["u1", "u3", "u4"]


def test_metadata_row_upper_bound_and_cap(spark, tmp_path):
    """The 0-cost broadcast gate: parquet footers bound the row count for a
    plain file scan (filters keep the bound valid), return None for
    non-file frames, and the byte-derived offset cap tracks the session's
    autoBroadcastJoinThreshold."""
    from adsimportpipeline_spark.operators.lww import (
        _metadata_row_upper_bound,
        _offset_broadcast_cap_rows,
    )

    p = str(tmp_path / "ub")
    spark.range(0, 1000).write.parquet(p)
    df = spark.read.parquet(p)
    assert _metadata_row_upper_bound(df) == 1000
    # a filter shrinks the true count; the bound stays a valid upper bound
    assert _metadata_row_upper_bound(df.filter("id < 10")) == 1000
    # not a file scan -> unknown
    assert _metadata_row_upper_bound(spark.range(5)) is None

    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    # the tighter of the byte budget and the caller's explicit row cap wins
    assert _offset_broadcast_cap_rows(spark, 4_000_000) == min(thr // 8, 4_000_000)
