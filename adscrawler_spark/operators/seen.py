"""URL-seen set: one exact anti-join on ``url_canon`` (SURVEY.md J2).

The reference's "seen" check is an in-Postgres anti-join over all
store_ids (adscrawler's app_stores/utils.py:139-150).
Here it is the same thing: one lazy ``left_anti`` join of the
frontier against the seen set's ``url_canon``, the key and shape of
the discovery anti-join in ``streaming/job.py``.  AQE picks a
broadcast, shuffled-hash or sort-merge join from the real sizes.

Earlier versions put a partitioned numpy Bloom sidecar in front of
this join, plus a cuckoo filter for deletions.  Both are gone.  A
Bloom filter never removes the exact join (false positives must be
confirmed), so it only adds work in front of it: a count of the seen
set, a grouped pandas build, a driver collect, a broadcast, a
persisted Arrow-UDF pass and a union of two branches — twice the
Spark jobs per probe, and slower at every size measured.  A
membership filter pays off where membership expires, as in *A Learned
Cuckoo Filter for Approximate Membership Queries over Variable-Sized
Sliding Windows on Data Streams* (SIGMOD 2023).  Here re-crawl is
driven by watermark predicates on frontier state and seen-set entries
never expire, so there is nothing for a filter to win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_url_hash64(df: DataFrame, canon_col: str = "url_canon") -> DataFrame:
    return df.withColumn("url_hash64", F.xxhash64(canon_col))


def probe_unseen(
    frontier: DataFrame,
    filters: DataFrame | None = None,
    seen: DataFrame | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Rows of ``frontier`` whose ``url_canon`` is NOT in ``seen``.

    Exact set semantics: a row stays unless some seen row has an equal
    ``url_canon``, so a shared ``url_hash64`` alone never drops it,
    duplicate seen rows neither duplicate nor drop output rows, and a
    null ``url_canon`` (equal to nothing) is always kept.  Lazy: the
    caller's action runs the join, and nothing is persisted.

    ``filters`` and ``persisted`` are ignored.  They keep the call shape
    of the deleted Bloom probe, ``probe_unseen(frontier,
    build_bloom_filters(seen), seen, persisted=caches)``, working;
    ``persisted`` is never appended to.  With no seen set the frontier
    passes through unchanged.
    """
    if seen is None:
        return frontier
    seen_keys = seen.select(F.col("url_canon").alias("_seen_canon"))
    return frontier.join(
        seen_keys, frontier["url_canon"] == seen_keys["_seen_canon"], "left_anti"
    )


def build_bloom_filters(seen: DataFrame) -> DataFrame:
    """Compat alias for the deleted Bloom build: the seen set's lazy key
    projection, which ``probe_unseen`` ignores.  Runs no Spark job."""
    return seen.select("url_canon")
