"""MERGE-style sinks (upsert / update-matched / delete-insert) and the
processed-file ledger, plus keyword text cleaning (P16)."""

import os

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from adscrawler_spark.functions.text import clean_keyword_text
from adscrawler_spark.sources import ledger, merge
from adscrawler_spark.sources.catalog import Catalog


@pytest.fixture()
def cat(tmp_path):
    return Catalog(str(tmp_path))


def _rows(spark, data, schema="k string, v int, extra string"):
    return spark.createDataFrame(data, schema)


def test_upsert_do_update(spark, cat):
    t = cat.table("t")
    merge.upsert(spark, t, _rows(spark, [("a", 1, "x"), ("b", 2, "y")]), ["k"])
    merge.upsert(spark, t, _rows(spark, [("b", 20, "y2"), ("c", 3, "z")]), ["k"])
    got = {r.k: (r.v, r.extra) for r in t.read(spark).collect()}
    assert got == {"a": (1, "x"), "b": (20, "y2"), "c": (3, "z")}


def test_upsert_do_nothing(spark, cat):
    t = cat.table("t")
    merge.upsert(spark, t, _rows(spark, [("a", 1, "x")]), ["k"])
    merge.upsert(spark, t, _rows(spark, [("a", 99, "no"), ("b", 2, "y")]),
                 ["k"], update=False)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": 1, "b": 2}


def test_update_matched_only(spark, cat):
    t = cat.table("t")
    merge.upsert(spark, t, _rows(spark, [("a", 1, "x"), ("b", 2, "y")]), ["k"])
    merge.update_matched(
        spark, t, _rows(spark, [("b", 200, "ignored"), ("zz", 9, "ignored")]),
        ["k"], ["v"],
    )
    got = {r.k: (r.v, r.extra) for r in t.read(spark).collect()}
    assert got == {"a": (1, "x"), "b": (200, "y")}  # extra untouched; zz not inserted


def test_delete_and_insert(spark, cat):
    t = cat.table("t")
    merge.upsert(spark, t, _rows(spark, [("a", 1, "x"), ("a", 1, "x2"), ("b", 2, "y")][:2]), ["extra"])
    merge.upsert(spark, t, _rows(spark, [("b", 2, "y")]), ["extra"])
    merge.delete_and_insert(
        spark, t, _rows(spark, [("a", 10, "new1"), ("a", 11, "new2")]), ["k"]
    )
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == [("a", 10), ("a", 11), ("b", 2)]


def test_ledger_retry_semantics(spark, cat):
    now = "2026-08-10 00:00:00"
    ledger.record(cat, spark, "details", [("f1", "e1"), ("f2", "e2")], "success", now)
    ledger.record(cat, spark, "details", [("f3", "e3")], "failed", now)
    ledger.record(cat, spark, "ranks", [("f4", "e4")], "success", now)
    cands = spark.createDataFrame(
        [("f1",), ("f2",), ("f3",), ("f4",), ("f5",)], "file_path string"
    )
    got = {r.file_path for r in
           ledger.filter_unprocessed(cat, spark, "details", cands).collect()}
    # f3 failed -> retried; f4 belongs to another pipeline; f5 new
    assert got == {"f3", "f4", "f5"}


def test_clean_keyword_text(spark):
    df = spark.createDataFrame(
        [("Fun!! Game\r\n• Play https://x.example/now it's GREAT 100%",)],
        "description string",
    )
    out = df.select(clean_keyword_text("description").alias("c")).first().c
    assert "http" not in out and "100" not in out and "'" not in out
    assert "Fun" in out and "Game" in out and "GREAT" in out


def test_upsert_touch_stamps_only_replaced_rows(spark, cat):
    """The updated_at BEFORE UPDATE trigger semantics (pg-ddl
    *_updated_at triggers via merge.upsert touch_col): rows replacing
    an existing key get the touch timestamp; fresh inserts — including
    source-internal duplicate keys — keep their source value."""
    schema = "k string, v int, updated_at timestamp"
    t0 = "2024-01-01 00:00:00"
    t1 = "2024-02-02 00:00:00"
    t = cat.table("touched")
    merge.upsert(
        spark,
        t,
        spark.createDataFrame([("a", 1, t0), ("b", 2, t0)], "k string, v int, updated_at string")
        .withColumn("updated_at", F.to_timestamp("updated_at")),
        ["k"],
    )
    src = (
        spark.createDataFrame(
            [("b", 20, t0), ("c", 3, t0), ("c", 3, t0)],
            "k string, v int, updated_at string",
        ).withColumn("updated_at", F.to_timestamp("updated_at"))
    )
    merge.upsert(spark, t, src, ["k"], touch_col="updated_at", touch_value=t1)
    got = {r.k: (r.v, str(r.updated_at)) for r in t.read(spark).collect()}
    assert got == {
        "a": (1, t0),   # untouched current row
        "b": (20, t1),  # replaced → stamped
        "c": (3, t0),   # fresh insert keeps source value
    }


def test_partitioned_append_of_observed_empty_frame(spark, cat):
    """A partitioned append of an observed zero-row frame: the caller's
    observation still reads 0, no empty fileset is committed, and the
    table still reads back (an empty fileset has no schema to infer)."""
    frame = spark.range(100).select("id", (F.col("id") % 3).alias("store"))
    t = cat.table("t")
    t.append(frame, partition_by=["store"])
    obs = Observation("empty_partitioned_append")
    v = t.append(frame.where("id < 0").observe(obs, F.count(F.lit(1)).alias("n")),
                 {"generation": 1}, partition_by=["store"])
    assert obs.get == {"n": 0}
    assert t.snapshot(v)["files"] == t.snapshot(v - 1)["files"]
    assert t.snapshot(v)["meta"] == {"generation": 1}
    assert t.read(spark).count() == 100

    fresh = cat.table("fresh")
    obs = Observation("empty_partitioned_first_append")
    fresh.append(frame.where("id < 0").observe(obs, F.count(F.lit(1)).alias("n")),
                 partition_by=["store"])
    assert obs.get == {"n": 0}
    assert fresh.read(spark) is None
    assert not os.listdir(os.path.join(fresh.dir, "data"))
