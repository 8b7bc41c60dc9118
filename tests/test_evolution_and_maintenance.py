"""Schema evolution mid-replay + orphan-deletion maintenance path."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from adsimportpipeline_spark.apply import apply_batch
from adsimportpipeline_spark.datagen import GenSpec, generate_change_log
from adsimportpipeline_spark.lake.table import LakeTable
from adsimportpipeline_spark.plans.maintenance import delete_orphans, replay_deletions
from adsimportpipeline_spark.schema import PAGES_SCHEMA, TOMBSTONE_SCHEMA


def test_schema_evolution_mid_replay(spark, tmp_path):
    """Batch 1 baseline; batch 2 adds a column + widens nothing; batch 3
    reverts to the old schema.  Old and new rows stay readable, new column
    null-filled where absent."""
    table = LakeTable.create(spark, str(tmp_path / "t"), PAGES_SCHEMA, n_buckets=8)
    ev = generate_change_log(spark, GenSpec(n_events=2000, n_urls=150, seed=11))

    b1 = ev.filter("log_offset < 700")
    b2 = (
        ev.filter("log_offset >= 700 and log_offset < 1400")
        .withColumn("crawl_score", (F.col("log_offset") % 100).cast("double"))
    )
    b3 = ev.filter("log_offset >= 1400")
    apply_batch(table, b1, 0)
    apply_batch(table, b2, 1)
    apply_batch(table, b3, 2)

    got = table.read()
    assert "crawl_score" in got.columns
    # rows written by batch 2 carry scores; others are null
    scored = got.filter(F.col("crawl_score").isNotNull()).count()
    assert scored > 0
    assert got.count() > 100
    # full LWW correctness unaffected: winner per url unique
    assert got.groupBy("url").count().filter("count > 1").count() == 0


def test_type_widening_mid_replay(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "tw"), PAGES_SCHEMA, n_buckets=4)
    ev = generate_change_log(spark, GenSpec(n_events=500, n_urls=50, seed=12))
    apply_batch(table, ev.withColumn("rank", F.lit(1).cast("int")), 0)
    assert dict(table.read().dtypes)["rank"] == "int"
    later = ev.withColumn("rank", F.lit(2).cast("bigint")).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 50 DAYS")
    )
    apply_batch(table, later, 1)
    assert dict(table.read().dtypes)["rank"] == "bigint"
    assert table.read().count() > 0


def test_orphan_deletion_and_replay(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "od"), PAGES_SCHEMA, n_buckets=8)
    ev = generate_change_log(spark, GenSpec(n_events=3000, n_urls=200, seed=13))
    apply_batch(table, ev, 0)
    before = table.read().select("url").collect()
    urls = sorted(r["url"] for r in before)
    keep = set(urls[: len(urls) // 2])
    feed = spark.createDataFrame([(u,) for u in sorted(keep)], "url string")

    stats = delete_orphans(table, feed, batch_id=1)
    assert stats["deleted"] == len(urls) - len(keep)
    remaining = {r["url"] for r in table.read().select("url").collect()}
    assert remaining == keep
    # every deleted url has a tombstone in the audit log
    tombs = {r["url"] for r in replay_deletions(table).collect()}
    assert set(urls) - keep <= tombs

    # cap: a feed that would delete everything aborts
    import pytest

    tiny_feed = spark.createDataFrame([("nope",)], "url string")
    with pytest.raises(RuntimeError):
        delete_orphans(table, tiny_feed, batch_id=2, max_deletions=3)


def test_reconcile_schema_properties():
    """Pure-schema properties of the evolution lattice (no Spark jobs):
    idempotent, monotone (never narrows), rejects narrowing/renames-as-
    type-changes, appends new columns nullable in incoming order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from adsimportpipeline_spark.evolve import _WIDENING, reconcile_schema

    prim = st.sampled_from([
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(), T.DateType(),
        T.TimestampType(), T.BooleanType(), T.BinaryType(),
    ])
    names = st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1, max_size=6, unique=True,
    )

    def widens_to(a, b):
        return a == b or _WIDENING.get((a.typeName(), b.typeName()), False)

    @settings(max_examples=200, deadline=None)
    @given(names, st.data())
    def check(cols, data):
        table = T.StructType([
            T.StructField(n, data.draw(prim), True) for n in cols
        ])
        # incoming: a subset of table cols (possibly widened) + fresh cols
        inc_fields = []
        for f in table.fields:
            if data.draw(st.booleans()):
                cands = [f.dataType] + [
                    t for t in (T.LongType(), T.DoubleType(), T.TimestampType())
                    if widens_to(f.dataType, t)
                ]
                inc_fields.append(T.StructField(f.name, data.draw(st.sampled_from(cands)), True))
        inc_fields.append(T.StructField("zz_new", data.draw(prim), False))
        incoming = T.StructType(inc_fields)

        evolved = reconcile_schema(table, incoming)
        # every table column survives, at a type it widens to
        by_name = {f.name: f for f in evolved.fields}
        for f in table.fields:
            assert f.name in by_name and widens_to(f.dataType, by_name[f.name].dataType)
        # new column appended, nullable regardless of source nullability
        assert evolved.fields[-1].name == "zz_new" and evolved.fields[-1].nullable
        # idempotent: reconciling the evolved schema with either input is a no-op
        assert reconcile_schema(evolved, incoming) == evolved
        assert reconcile_schema(evolved, table) == evolved

    check()

    # a NARROWER incoming type is compatible — the table keeps its wider
    # type and incoming data casts up on align (never narrows the table)
    from pyspark.sql import types as TT
    t = TT.StructType([TT.StructField("a", TT.LongType(), True)])
    assert reconcile_schema(
        t, TT.StructType([TT.StructField("a", TT.IntegerType(), True)])
    ) == t
    # genuinely incompatible changes must raise, never silently coerce
    import pytest
    for bad in (TT.StringType(), TT.BooleanType(), TT.BinaryType()):
        with pytest.raises(TypeError):
            reconcile_schema(t, TT.StructType([TT.StructField("a", bad, True)]))


def test_align_to_schema_identity_and_widening(spark):
    """A frame already in the target's names, order and types comes back as
    the same object; a narrower or partial frame is still cast and
    null-filled."""
    from pyspark.sql import types as T

    from adsimportpipeline_spark.evolve import align_to_schema

    target = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()),
    ])
    same = spark.createDataFrame([(1, "x", 2.0)], target)
    assert align_to_schema(same, target) is same

    narrow = spark.createDataFrame([("y", 3)], "b string, a int")
    out = align_to_schema(narrow, target)
    assert out is not narrow
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]
    assert out.collect() == [(3, "y", None)]
