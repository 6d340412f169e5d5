"""Store-scrape dispatcher — the reference's dramatiq message
producer (dramatiq/dispatcher.py) as distributed plans.

The reference queries apps-to-update, throttles on Redis queue depth,
claims per-app SET-NX locks, splits the survivors into per-country
chunks of ~40, and sends each chunk to one of four (store × priority
group) queues (dispatcher.py:142-273).  Here the queue state is a
lake table instead of Redis and the chunk assignment is a window
computation; the four-queue fan-out is one partitioned plan, not four
driver loops.

Scale notes: every step is window/anti-join work partitioned by
(store, group[, country]) — thousands of queues would distribute the
same way; nothing collects to the driver.  The lock claim is one
exact anti-join on the lock key, the same shape as the seen-set probe
(operators/seen.py), rather than a per-id round-trip.

Determinism deviation (documented): the reference sorts by
country_code with pandas quicksort, leaving within-country order
unspecified (dispatcher.py:196); the engine pins within-country order
to the priority order column so chunk membership is reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adscrawler_spark.session import local_df

# dispatcher.py:62-63
MAX_PENDING_CHUNKS = 1500
MAX_CHUNK_SIZE = 40

# dispatcher.py:108-115
SERIALIZABLE_COLUMNS = [
    "store_app",
    "store_id",
    "country_code",
    "language",
    "icon_url_100",
    "html_recently_scraped",
]

# dispatch_all_queues (dispatcher.py:248-273): group-2 (international)
# queues get a reduced per-cycle app budget.
QUEUES = ((1, 1), (2, 1), (1, 2), (2, 2))
GROUP2_APP_LIMIT = 5_000


def queue_query_limit(pending: int, app_limit: int) -> int | None:
    """Throttle + query-budget for one queue
    (dispatcher.py:176-190): skip entirely (None) when fewer than 10%
    of MAX_PENDING_CHUNKS slots are free, otherwise query
    min(empty_slots * chunk_size, app_limit) doubled to cover locked
    apps still in flight."""
    empty_slots = MAX_PENDING_CHUNKS - pending
    if empty_slots < MAX_PENDING_CHUNKS / 10:
        return None
    return min(empty_slots * MAX_CHUNK_SIZE, app_limit) * 2


def acquire_locks(apps: DataFrame, locks: DataFrame) -> DataFrame:
    """SET-NX lock claim as an anti-join (dispatcher.py:87-105):
    keep only apps whose (store, group, store_app) is not already
    in-flight.  ``locks`` rows carry (store, group, store_app)."""
    return apps.join(
        locks.select("store", "group", "store_app"),
        ["store", "group", "store_app"],
        "anti",
    )


def chunk_assignments(
    apps: DataFrame, order_col: str = "store_app"
) -> DataFrame:
    """Per-country chunk split (dispatcher.py:208-219): countries of
    <= MAX_CHUNK_SIZE apps form one chunk; larger countries use
    num_chunks = ceil(n / MAX), a local chunk size of n // num_chunks,
    and fixed slices of that size — which (faithfully) yields a small
    trailing chunk whenever n % num_chunks != 0.  Adds ``chunk_seq``
    within (store, group, country_code)."""
    w = Window.partitionBy("store", "group", "country_code")
    n = F.count("*").over(w)
    rn = F.row_number().over(w.orderBy(order_col))
    num_chunks = F.ceil(n / MAX_CHUNK_SIZE)
    csl = F.when(n <= MAX_CHUNK_SIZE, n).otherwise(
        F.floor(n / num_chunks)
    )
    return apps.withColumn(
        "chunk_seq", F.floor((rn - F.lit(1)) / csl).cast("int")
    )


def serialize_projection(apps: DataFrame) -> DataFrame:
    """The JSON-safe chunk projection (dispatcher.py:118-141
    _serialize_chunk): keep the serializable columns, fill the
    optional ones (icon_url_100, html_recently_scraped) with NULL
    when the source query didn't produce them."""
    out = apps
    for col in ("icon_url_100", "html_recently_scraped"):
        if col not in out.columns:
            out = out.withColumn(col, F.lit(None).cast("string"))
    return out.select(*[c for c in SERIALIZABLE_COLUMNS])


def dispatch_all_queues(
    apps: DataFrame,
    locks: DataFrame,
    pending_by_queue: dict[tuple[int, int], int],
    app_limit: int = 20_000,
    order_col: str = "store_app",
) -> DataFrame:
    """The four-queue dispatch cycle (dispatcher.py:142-273) as one
    plan: per (store, group) apply the depth throttle, rank the
    queue's apps in priority order and keep its query budget, drop
    already-locked apps, then assign per-country chunks.  Returns the
    chunked assignment rows (store, group, country_code, store_app,
    chunk_seq); a queue whose throttle says skip contributes no rows.

    The per-queue budgets become one windowed filter — the queues
    stay independent exactly as in the reference (a full queue skips
    without starving the others) but the engine evaluates them in a
    single distributed pass instead of four sequential driver calls.
    """
    limits = [
        (store, group, queue_query_limit(
            pending_by_queue.get((store, group), 0),
            GROUP2_APP_LIMIT if group == 2 else app_limit,
        ))
        for store, group in QUEUES
    ]
    limit_rows = [
        (store, group, lim) for store, group, lim in limits
        if lim is not None
    ]
    if not limit_rows:
        return chunk_assignments(apps, order_col).limit(0)
    spark = apps.sparkSession
    limit_df = local_df(spark,
        limit_rows, "store int, group int, qlimit int"
    )
    wq = Window.partitionBy("store", "group").orderBy(order_col)
    ranked = (
        apps.join(F.broadcast(limit_df), ["store", "group"])
        .withColumn("_rank", F.row_number().over(wq))
        .filter(F.col("_rank") <= F.col("qlimit"))
        .drop("_rank", "qlimit")
    )
    return chunk_assignments(acquire_locks(ranked, locks), order_col)


def queue_for_col(store, group):
    """queue_for (dramatiq/app_stores/actor_defs.py:119-122): the
    canonical (store × country-priority-group) queue name."""
    prefix = F.when(store == 1, "google").otherwise("apple")
    return F.concat(
        F.lit("store_crawls_"), prefix, F.lit("_"), group.cast("string")
    )


def release_lock_keys(dispatched: DataFrame) -> DataFrame:
    """_release_locks under _actor_body's finally
    (actor_defs.py:89-116,125-176): every dispatched chunk releases
    ALL its apps' lock keys whether the scrape succeeded or raised —
    the engine emits the delete-key decision rows
    ``{queue}:lock:{store_app}`` for the whole dispatched set, never
    filtered by outcome.  ``dispatched``: (store, group,
    store_app, ...)."""
    return dispatched.select(
        "store", "group", "store_app",
        F.concat(
            queue_for_col(F.col("store"), F.col("group")),
            F.lit(":lock:"), F.col("store_app").cast("string"),
        ).alias("lock_key"),
    ).distinct()
