"""URL-seen set: the probe is an exact anti-join on url_canon."""

import pytest
from pyspark.sql import functions as F

from adscrawler_spark.operators.seen import (
    build_bloom_filters,
    probe_unseen,
    with_url_hash64,
)


def _hosts(spark, lo, hi):
    return with_url_hash64(
        spark.range(lo, hi).select(
            F.concat(F.lit("host"), F.col("id"), F.lit(".com")).alias("url_canon")
        )
    )


@pytest.fixture(scope="module")
def seen_and_frontier(spark):
    return _hosts(spark, 0, 5000), _hosts(spark, 2500, 9000)


@pytest.mark.parametrize("threshold", [64 << 20, 0])
def test_probe_exact_semantics(seen_and_frontier, threshold):
    """Exact set semantics, through the compat call shape too, whether
    the anti-join is planned as a broadcast or a shuffled join."""
    seen, frontier = seen_and_frontier
    conf = seen.sparkSession.conf
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = conf.get(key)
    conf.set(key, str(threshold or -1))
    try:
        _check_exact(seen, frontier)
    finally:
        conf.set(key, old)


def _check_exact(seen, frontier):
    want = {f"host{i}.com" for i in range(5000, 9000)}
    for unseen in (probe_unseen(frontier, seen=seen),
                   probe_unseen(frontier, build_bloom_filters(seen), seen)):
        got = [r.url_canon for r in unseen.collect()]
        assert len(got) == len(want) and set(got) == want
        assert unseen.columns == frontier.columns


def test_empty_seen_passthrough(seen_and_frontier, spark):
    _, frontier = seen_and_frontier
    out = probe_unseen(frontier, None, None)
    assert out.count() == frontier.count()


def test_shared_hash_different_canon_stays_unseen(seen_and_frontier):
    """The key is url_canon, not the 64-bit hash: a frontier row whose
    url_hash64 equals a seen row's but whose url_canon differs is new."""
    seen, _ = seen_and_frontier
    h = seen.where("url_canon = 'host7.com'").first().url_hash64
    frontier = (
        seen.sparkSession.createDataFrame(
            [("other7.com",), ("host7.com",)], "url_canon string")
        .withColumn("url_hash64", F.lit(h))
    )
    got = [r.url_canon for r in probe_unseen(frontier, seen=seen).collect()]
    assert got == ["other7.com"]


def test_duplicate_seen_rows_neither_duplicate_nor_drop(seen_and_frontier):
    seen, frontier = seen_and_frontier
    tripled = seen.unionByName(seen).unionByName(seen)
    got = sorted(r.url_canon for r in probe_unseen(frontier, seen=tripled).collect())
    want = sorted(r.url_canon for r in probe_unseen(frontier, seen=seen).collect())
    assert got == want and len(got) == 4000


def test_null_url_canon_is_kept(seen_and_frontier, spark):
    """A null url_canon equals no seen row, so it stays unseen, even
    when the seen set holds a null url_canon of its own."""
    seen, _ = seen_and_frontier
    schema = "url_canon string"
    frontier = with_url_hash64(
        spark.createDataFrame([(None,), ("host1.com",), ("fresh.com",)], schema))
    seen = seen.unionByName(with_url_hash64(spark.createDataFrame([(None,)], schema)))
    got = sorted(
        (r.url_canon for r in probe_unseen(frontier, seen=seen).collect()),
        key=lambda c: (c is not None, c),
    )
    assert got == [None, "fresh.com"]
