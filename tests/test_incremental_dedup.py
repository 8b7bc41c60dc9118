"""Incremental LSH index vs batch-mode recompute — the never-diverge invariant.

Replays a hand-built change log (inserts, text-changing updates, deletes,
duplicate deliveries, stale events) in micro-batches through the REAL apply
path while maintaining the band index from each batch, and asserts after
every batch that the index's valid-pair set equals batch-mode
lsh_candidate_pairs over the table — row for row.  Also covers the
fast-append commit, exactly-once re-delivery, a crash between the table and
index commits, and index compaction.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.lake.table import LakeTable
from adsimportpipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from adsimportpipeline_spark.operators.incremental_dedup import (
    LSH_INDEX_SCHEMA,
    batch_winner_texts,
    compact_lsh_index,
    create_lsh_index,
    lsh_index_pairs,
    update_lsh_index,
)
from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA, PAGES_SCHEMA

T0 = datetime(2026, 1, 1)

# word soups with controlled overlap; identical texts guarantee identical
# signatures (the probabilistic near-identical cases just have to AGREE
# between incremental and batch mode, whatever the hashes say)
TPL_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
TPL_B = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
TPL_C = "one two three four five six seven eight nine ten " * 3
TPL_D = "unrelated words that share nothing with any other document here " * 3
TPL_E = "completely different text after the update arrived for this url " * 3


def _ev(url, minute, offset, op, text):
    html = None if op == "delete" else f"<p>{text}</p>".encode()
    return (url, T0 + timedelta(minutes=minute), offset, op, html, "en", "crawl", None)


BATCHES = [
    # b0: u1,u2 identical (A); u3 B; u4 D; u5,u6 identical (C);
    #     plus a duplicate delivery of u1's event (LWW collapses it)
    [
        _ev("u1", 1, 1, "insert", TPL_A),
        _ev("u1", 1, 1, "insert", TPL_A),
        _ev("u2", 2, 2, "insert", TPL_A),
        _ev("u3", 3, 3, "insert", TPL_B),
        _ev("u4", 4, 4, "insert", TPL_D),
        _ev("u5", 5, 5, "insert", TPL_C),
        _ev("u6", 6, 6, "insert", TPL_C),
    ],
    # b1: u7 joins the A-cluster (cross-batch pairs vs stored u1,u2);
    #     u3's text changes (old B band rows become stale)
    [
        _ev("u7", 11, 11, "insert", TPL_A),
        _ev("u3", 12, 12, "update", TPL_E),
    ],
    # b2: u5 deleted (its C-pair must die); u2 leaves the A-cluster
    [
        _ev("u5", 21, 21, "delete", None),
        _ev("u2", 22, 22, "update", TPL_B),
    ],
    # b3: stale events the table rejects but the batch still indexes —
    #     u5's original insert re-delivered after its delete (the tombstone
    #     blocks it), and a u1 event older than u1's stored row carrying
    #     u6's text.  Both band rows are dead on arrival.
    [
        _ev("u5", 5, 5, "insert", TPL_C),
        _ev("u1", 0, 0, "update", TPL_C),
    ],
]


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("incdedup")
    table = LakeTable.create(spark, str(root / "pages"), PAGES_SCHEMA, n_buckets=8)
    index = create_lsh_index(spark, str(root / "lsh"), n_buckets=8)
    # per batch: (index pairs, batch-mode pairs) over the table after it
    after: list[tuple[set, set]] = []
    for i, rows in enumerate(BATCHES):
        batch = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
        apply_batch(table, batch, batch_id=i)
        update_lsh_index(index, batch_winner_texts(batch), i)
        pages = table.read()
        after.append((_index_pairs(index, pages), _batch_mode_pairs(pages)))
    return table, index, after


def _index_pairs(index, pages_df):
    current = pages_df.select("url", "warc_ts", "log_offset")
    return {tuple(r) for r in lsh_index_pairs(index, current).collect()}


def _batch_mode_pairs(pages_df):
    sigs = minhash_signatures(word_shingles(pages_df, id_col="url"), id_col="url")
    return {tuple(r) for r in lsh_candidate_pairs(sigs, id_col="url").collect()}


def test_index_equals_batch_mode_after_every_batch(replayed):
    _, _, after = replayed
    for i, (incremental, batch_mode) in enumerate(after):
        assert incremental == batch_mode, f"batch {i}"
    pairs = [incremental for incremental, _ in after]
    # identical texts => identical signatures => guaranteed pairs
    assert ("u1", "u2") in pairs[0]
    assert ("u5", "u6") in pairs[0]
    # cross-batch: u7 (b1) vs the A-cluster stored in b0
    assert ("u1", "u7") in pairs[1] and ("u2", "u7") in pairs[1]
    # b2 applied a delete and a de-clustering update: u2's new B-text may
    # band with nothing that still exists (u3 left B in b1) — whatever the
    # hashes say, no pair may involve the deleted u5
    assert not any("u5" in p for p in pairs[2])


def test_stale_batch_winners_never_pair(replayed):
    """b3's winners share u6's text, so their band rows collide with u6's;
    the table rejected both events, so neither pair may ever appear."""
    _, index, after = replayed
    assert index.last_epoch("lsh_index") == len(BATCHES) - 1
    indexed = {tuple(r) for r in index.read().select("url", "log_offset").collect()}
    assert ("u1", 0) in indexed  # the stale winner was indexed, dead on arrival
    assert not any(("u1", "u6") in incremental for incremental, _ in after)
    assert ("u5", "u6") not in after[2][0] | after[3][0]


def test_final_index_pairs_equal_batch_mode(replayed):
    table, index, _ = replayed
    final = table.read()
    incremental = _index_pairs(index, final)
    assert incremental == _batch_mode_pairs(final)
    # the dead relations are really dead: u5 tombstoned, u2's A-membership
    # superseded — identical-text guarantees make these assertions exact
    assert ("u5", "u6") not in incremental
    assert ("u1", "u2") not in incremental
    assert ("u1", "u7") in incremental


def test_redelivery_is_noop(replayed, spark):
    _, index, _ = replayed
    v = index.current_version()
    batch = spark.createDataFrame(BATCHES[1], CHANGE_EVENT_SCHEMA)
    update_lsh_index(index, batch_winner_texts(batch), 1)
    assert index.current_version() == v


def test_crash_between_table_and_index_commits(spark, tmp_path):
    """Batch 1 commits to the table but not to the index (a crash between
    the two commits).  Its re-delivery through the runner's batch function
    no-ops on the table and brings the index up to batch mode."""
    from adsimportpipeline_spark.streaming.runner import _apply_and_maintain_index

    table = LakeTable.create(spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8)
    index = create_lsh_index(spark, str(tmp_path / "lsh"), n_buckets=8)
    b0, b1 = (spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA) for rows in BATCHES[:2])
    _apply_and_maintain_index(table, index, b0, 0)
    apply_batch(table, b1, batch_id=1)
    tv = table.current_version()
    assert ("u1", "u7") not in _index_pairs(index, table.read())  # index behind

    _apply_and_maintain_index(table, index, b1, 1)
    assert table.current_version() == tv
    assert index.last_epoch("lsh_index") == 1
    pages = table.read()
    incremental = _index_pairs(index, pages)
    assert incremental == _batch_mode_pairs(pages)
    assert ("u1", "u7") in incremental


def test_compaction_drops_stale_keeps_answer(replayed):
    table, index, _ = replayed
    pages = table.read()
    current = pages.select("url", "warc_ts", "log_offset")
    before = _index_pairs(index, pages)
    n_before = index.read().count()
    compact_lsh_index(index, current)
    assert _index_pairs(index, pages) == before
    n_after = index.read().count()
    # u3's B rows, u2's A rows, u5's C rows and b3's dead-on-arrival rows gone
    assert n_after < n_before
    # compacted index holds exactly the valid distinct rows
    valid = (
        index.read()
        .join(current, ["url", "warc_ts", "log_offset"], "left_semi")
        .distinct()
        .count()
    )
    assert n_after == valid


def test_append_buckets_fast_append(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "ap"), LSH_INDEX_SCHEMA,
                         key="bucket", n_buckets=4)
    df1 = spark.createDataFrame(
        [("b1", "u1", T0, 1), ("b2", "u2", T0, 2)], LSH_INDEX_SCHEMA
    )
    df2 = spark.createDataFrame([("b1", "u3", T0, 3)], LSH_INDEX_SCHEMA)
    v1 = t.append_buckets(df1, epoch_source="x", epoch=0)
    m1 = t.manifest()
    v2 = t.append_buckets(df2, epoch_source="x", epoch=1)
    assert v2 == v1 + 1
    # fast-append: prior file groups untouched, new group added
    m2 = t.manifest()
    for b, entries in m1["buckets"].items():
        assert entries == m2["buckets"][b][: len(entries)]
    assert t.read().count() == 3
    # exactly-once: same epoch again is a committed duplicate
    assert t.append_buckets(df2, epoch_source="x", epoch=1) == v2
    assert t.read().count() == 3


def test_index_file_groups_stay_bounded(spark, tmp_path):
    """Every batch fast-appends one file per index bucket it touches; over a
    replay longer than ``COMPACT_APPENDS_EVERY`` batches, the touched
    buckets are compacted so no file group grows past that bound, and no
    band row is lost."""
    from adsimportpipeline_spark.lake.table import COMPACT_APPENDS_EVERY

    index = create_lsh_index(spark, str(tmp_path / "lsh"), n_buckets=2)
    worst = []
    for i in range(COMPACT_APPENDS_EVERY + 4):
        upserts = spark.createDataFrame(
            [(f"u{i}", T0 + timedelta(minutes=i), i, TPL_A)],
            "url string, warc_ts timestamp, log_offset long, text string",
        )
        update_lsh_index(index, upserts, i)
        worst.append(max(len(es) for es in index.manifest()["buckets"].values()))
    assert max(worst) == COMPACT_APPENDS_EVERY, worst  # reached, never passed
    assert worst[-1] < COMPACT_APPENDS_EVERY  # folded once it was passed
    rows = index.read()
    assert rows.select("url").distinct().count() == COMPACT_APPENDS_EVERY + 4
    assert rows.count() == rows.distinct().count()


def test_update_survives_restart(replayed, spark, tmp_path):
    """A fresh LakeTable handle over the same roots (driver restart) sees
    the committed epochs and the same pair answer."""
    table, index, _ = replayed
    reopened = LakeTable.load(spark, index.root)
    assert reopened.last_epoch("lsh_index") == len(BATCHES) - 1
    pages = table.read()
    assert _index_pairs(reopened, pages) == _index_pairs(index, pages)


def test_streaming_replay_maintains_index(spark, tmp_path):
    """run_replay(lsh_index_root=...) maintains the band index inside the
    checkpointed streaming loop: after the replay the index's valid pairs
    equal a full batch recompute over the final table, and resuming from
    the same checkpoint advances neither the table nor the index."""
    from adsimportpipeline_spark.datagen import GenSpec, write_change_log
    from adsimportpipeline_spark.streaming.runner import run_replay

    log = str(tmp_path / "log")
    write_change_log(
        spark, log, GenSpec(n_events=3000, n_urls=150, seed=7), n_files=6
    )
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, n_buckets=8
    )
    idx_root = str(tmp_path / "lsh")
    ckpt = str(tmp_path / "ckpt")
    run_replay(
        spark, log, table.root, ckpt,
        max_files_per_trigger=2, lsh_index_root=idx_root,
    )
    index = LakeTable.load(spark, idx_root)
    assert index.last_epoch("lsh_index") >= 1  # several micro-batches ran

    final = table.read()
    incremental = _index_pairs(index, final)
    assert incremental == _batch_mode_pairs(final)
    assert incremental  # the generator's duplicate factor guarantees some

    # resume from the same checkpoint: no new data -> both sides untouched
    tv, iv = table.current_version(), index.current_version()
    run_replay(
        spark, log, table.root, ckpt,
        max_files_per_trigger=2, lsh_index_root=idx_root,
    )
    assert table.current_version() == tv
    assert index.current_version() == iv
