"""Custom stateful streaming operator: in-stream LWW dedup with
``applyInPandasWithState``.

The foreachBatch apply path (apply.py) resolves each micro-batch against the
*stored table* — correct, but every batch pays a table read.  This operator
keeps the per-url LWW high-water mark ``(warc_ts, log_offset)`` as
STREAMING STATE instead, so arbitrarily late or duplicated events are
decided without touching the lake at all: the streaming-native analog of the
reference's per-record "is this newer than what we have?" check
(app.py:34-39).  The LWW ordering also subsumes its tombstone resurrection
guard (app.py:54-67): a post-delete event is 'apply' only if strictly newer
than the delete, so no separate delete flag is stored.  State is
checkpointed by Spark, surviving kill-and-resume.

Emitted per input event: ``decision`` in {'apply', 'stale', 'duplicate'}
— a decisions-only operator.  It is not a replay mode: a state store knows
nothing of rows that were loaded into the table without streaming through
it, so the table is written only by :func:`..streaming.runner.run_replay`
(the merge against the stored table, apply.py).

The batch body is pandas-vectorized: one concat + one lexicographic
cummax per group per micro-batch; no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import forget_zip_importers

#: per-url state: LWW high-water mark.  No delete flag is stored — the LWW
#: ordering alone provides the resurrection guard (a post-delete event is
#: 'apply' only if strictly newer than the delete), so the mark is the
#: entire state.
#:
#: COMPATIBILITY: this schema once carried a third ``deleted`` field; the
#: state store pins its schema at checkpoint creation (stateSchemaCheck),
#: so a checkpoint written by that build cannot resume under this one —
#: Spark refuses the query with StateSchemaNotCompatible.  Upgrading a
#: live deployment means a NEW checkpoint dir and a log replay from the
#: start (exactly-once makes the replay a no-op against the lake table);
#: never edit this struct casually.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_ts", T.LongType(), True),      # epoch micros
        T.StructField("max_off", T.LongType(), True),
    ]
)

DECISION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("log_offset", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("decision", T.StringType(), False),
    ]
)


def _decide_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """LWW decisions for one url's events of one micro-batch."""
    forget_zip_importers()  # the next task's worker set-up stays cheap
    url = key[0]
    has_state = state.exists
    if has_state:
        max_ts, max_off = state.get
    else:
        max_ts, max_off = 0, 0  # placeholders; never compared below

    batch = pd.concat(list(pdfs), ignore_index=True)
    ts_us = batch["warc_ts"].astype("int64") // 1000  # pandas ns -> micros
    off = batch["log_offset"].astype("int64")

    # ascending sort by the LWW key: every row then compares only against
    # its predecessor (in-batch) and the state's high-water mark
    keyed = pd.DataFrame({"ts": ts_us, "off": off})
    order = keyed.sort_values(["ts", "off"], kind="mergesort").index
    b = batch.loc[order].reset_index(drop=True)
    bts = keyed["ts"].loc[order].reset_index(drop=True)
    boff = keyed["off"].loc[order].reset_index(drop=True)

    # in-batch exact re-delivery: equal key to the previous (sorted) row
    dup_in_batch = bts.eq(bts.shift(1)) & boff.eq(boff.shift(1))
    if has_state:
        # exact re-delivery of the cross-batch high-water mark
        dup_vs_state = (bts == max_ts) & (boff == max_off)
        # strictly newer than everything seen before this row
        newer_than_state = (bts > max_ts) | (
            (bts == max_ts) & (boff > max_off)
        )
    else:
        # absence IS the sentinel: a magic (-1, -1) mark would classify
        # a first-seen pre-1970 timestamp (negative epoch micros) as
        # 'stale' and silently drop it
        dup_vs_state = pd.Series(False, index=b.index)
        newer_than_state = pd.Series(True, index=b.index)

    decision = pd.Series("stale", index=b.index)
    decision[newer_than_state.to_numpy()] = "apply"
    decision[(dup_in_batch | dup_vs_state).to_numpy()] = "duplicate"

    new_ts, new_off = int(bts.iloc[-1]), int(boff.iloc[-1])
    if not has_state or (new_ts, new_off) > (max_ts, max_off):
        state.update((new_ts, new_off))

    yield pd.DataFrame({
        "url": url,
        "warc_ts": b["warc_ts"],
        "log_offset": b["log_offset"],
        "op": b["op"],
        "decision": decision,
    })


def stateful_lww_decisions(events: DataFrame) -> DataFrame:
    """Streaming transform: change events -> per-event LWW decisions with
    per-url state (exact semantics: an event is 'apply' iff strictly newer
    than every event for its url seen in any earlier batch OR earlier in
    this batch's order)."""
    core = events.select("url", "warc_ts", "log_offset", "op")
    return core.groupBy("url").applyInPandasWithState(
        _decide_group,
        outputStructType=DECISION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
