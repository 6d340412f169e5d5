"""The perfbench workloads and their correctness checks.

Each workload is one closed-loop client in one process: it calls the
library's public functions one after another, the next call starting
when the previous one returned.  ``Run`` holds what a workload needs
(session, lake directories, recorder, tracer); a workload appends its
operations to ``run.rec`` and its checks and the layer facts that
only it knows to ``run``.  ``FIGURES`` turns a finished run into the
end-to-end figures, from either the corrected or the wall-clock time
of each operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from adscrawler_spark.operators import frontier as frontier_ops
from adscrawler_spark.operators import politeness
from adscrawler_spark.operators import seen as seen_ops
from adscrawler_spark.pyref.frontier_sim import SimConfig, run_sim
from adscrawler_spark.sources.catalog import Catalog, SnapshotTable
from adscrawler_spark.streaming import job
from adscrawler_spark.streaming.frontier_gen import synth_frontier
from adscrawler_spark.streaming.synth import _AD_DOMAINS

from harness import WARMUP, Recorder, Tracer, median

# Crawl: a synthetic frontier at the reference batch sizing.  The
# frontier is small enough that one generation claims nearly all of
# it; the generation's cost is mostly fixed per-action latency (a
# 500-URL frontier took as long).  There is no warm-up of its own: a
# cold generation alone takes about 23 s on the 4-core sizing VM, and
# a warm-up pair would not fit the time a full measurement may take.
CRAWL = {
    "frontier_urls": 1_000,
    "listing_batch": 20_000,
    "adstxt_batch": 20_000,
    "rankings_batch": 100,
    "budget_seconds": 3_600.0,
}
# Ingest: bulk seed-list import against a growing seen set; the
# warm-up loads and imports one smaller batch into a table of its own,
# so the timed load and batches run with a warm JIT (a cold first
# batch made the batch time spread more over runs).
INGEST = {
    "seen_rows": 50_000,
    "batch_rows": 100_000,
    "min_batches": 2,
    "warmup_seen_rows": 10_000,
    "warmup_batch_rows": 20_000,
}
# seed offset of the warm-up's inputs, so they never equal a timed one's
WARMUP_SEED = 1_000_003


@dataclass
class Run:
    spark: object
    lake: str
    warmup_lake: str
    rec: Recorder
    tracer: Tracer
    seed: int
    seconds: float
    checks: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def catalog(self, name: str, warmup: bool = False) -> Catalog:
        return Catalog(os.path.join(self.warmup_lake if warmup else self.lake,
                                    name))

    def check(self, name: str, ok: bool, detail) -> None:
        self.checks[name] = {"ok": bool(ok), "detail": detail}


def install_spans(tracer: Tracer) -> None:
    """Spans around the program's public functions (traced runs only).
    Lazy builders (with_canonical, build_bloom_filters) return plans,
    so their spans are driver-side planning; the compute shows in the
    next action's span (catalog writes, claim_batch's eager phase-2
    pass, probe_unseen's filter collect)."""
    table = lambda a, kw, out: {"table": a[0].name,  # noqa: E731
                                "meta": a[2] if len(a) > 2 else kw.get("meta")}
    for method in ("append", "overwrite", "compact"):
        tracer.wrap(SnapshotTable, method, f"catalog.{method}", table)
    tracer.wrap(frontier_ops, "claim_batch", "frontier.claim_batch")
    tracer.wrap(frontier_ops, "with_canonical", "frontier.with_canonical")
    tracer.wrap(seen_ops, "probe_unseen", "seen.probe_unseen")
    tracer.wrap(seen_ops, "build_bloom_filters", "seen.build_bloom_filters")


# ----------------------------------------------------------------- crawl
def crawl(run: Run) -> None:
    """Bootstrap a fresh lake, then run one generation at the
    reference batch sizing; repeat for ``seconds`` (at least once).
    Pair i's frontier comes from seed × 1000 + i."""
    spark, rec, cfg = run.spark, run.rec, CRAWL
    robots = politeness.default_robots(spark)

    def generation(cat: Catalog) -> dict:
        m = job.run_generation(
            spark, cat, 0, cfg["listing_batch"], cfg["adstxt_batch"],
            cfg["budget_seconds"], robots, rankings_batch=cfg["rankings_batch"],
        )
        cat.write_state({"generation": 1, "versions": job._versions(cat)})
        return m

    pairs: list[Catalog] = []
    gens: list[dict] = []
    t0 = time.time()
    while not pairs or time.time() - t0 < run.seconds:
        cat = run.catalog(f"pair{len(pairs)}")
        pairs.append(cat)
        rec.run("bootstrap", job.bootstrap, spark, cat, cfg["frontier_urls"],
                _pair_seed(run.seed, len(gens)))
        m = rec.run("generation", generation, cat) if rec.ops[-1]["ok"] else None
        if m is None:
            break
        gens.append(m)

    t = time.time()
    for i, cat in enumerate(pairs):
        _check_crawl(run, cat, f"crawl.pair{i}")
    run.facts["checks_s"] = time.time() - t
    run.facts["generations"] = gens


def crawl_figures(run: Run, field: str) -> dict:
    """crawl.bootstrap_s, crawl.generation_s (medians over pairs) and
    crawl.urls_per_sec, from each operation's ``field`` time."""
    rec = run.rec
    gen_s = sum(o[field] for o in rec.of("generation"))
    fetched = sum(m["fetched"] for m in run.facts["generations"])
    return {
        "load_s": _median_of(rec, "bootstrap", field),
        "op_s": _median_of(rec, "generation", field),
        "items_per_sec": fetched / gen_s if gen_s else None,
    }


def _pair_seed(seed: int, i: int) -> int:
    return seed * 1_000 + i


def _check_crawl(run: Run, cat: Catalog, name: str) -> None:
    """Claim log and seen set of one pair's lake equal the sequential
    simulator's under the same config, as tests/test_crawl_job.py
    checks them."""
    spark, cfg = run.spark, CRAWL
    state = cat.read_state()
    if state.get("generation") != 1:
        run.check(f"{name}.claim_log_matches_sim", False,
                  "no generation completed")
        return
    # read at the last committed state: a failed generation may have
    # committed some of its sinks before it died
    versions = state.get("versions", {})
    at = lambda t: cat.table(t).read(spark, version=versions.get(t))  # noqa: E731
    rows = [r.asDict() for r in cat.table("frontier").read(spark, 0).collect()]
    robots = {r.host: (list(r.disallow), r.crawl_delay)
              for r in politeness.default_robots(spark).collect()}
    lookup_df = frontier_ops.with_canonical(spark.createDataFrame(
        [(f"https://{d}/app-ads.txt",) for d in _AD_DOMAINS], "url string"))
    lookup = {r.url_canon: (r.url_hash, r.url_hash64, r.row_hash64)
              for r in lookup_df.collect()}
    sim = run_sim(rows, SimConfig(
        listing_batch=cfg["listing_batch"], adstxt_batch=cfg["adstxt_batch"],
        rankings_batch=cfg["rankings_batch"],
        budget_seconds=cfg["budget_seconds"], robots=robots,
        hash_lookup=lookup,
    ), 1)
    fam = {"adstxt": "adstxt", "rankings": "rankings"}
    log = sorted(
        (int(r.batch_id), fam.get(r.doc_kind, "listing"), int(r.claim_rank),
         r.url_canon)
        for r in at("crawl_log").collect()
    )
    run.check(f"{name}.claim_log_matches_sim", log == sorted(sim.claim_log),
              {"claims": len(log), "sim_claims": len(sim.claim_log)})
    seen = {r.url_canon for r in at("url_seen").collect()}
    run.check(f"{name}.seen_set_matches_sim", seen == sim.seen,
              {"seen": len(seen), "sim_seen": len(sim.seen)})


# ---------------------------------------------------------------- ingest
def _candidates(spark, n: int, seed: int):
    return frontier_ops.with_canonical(synth_frontier(spark, n, seed)).select(
        "url", "url_canon", "url_hash64")


def ingest(run: Run) -> None:
    """Warm-up: a load and one batch on a smaller table of its own.
    Timed: load a seen set → import candidate batches for ``seconds``
    (at least ``min_batches``), each probed with seen.probe_unseen
    against url_seen read from the catalog and its unseen rows
    appended → one compaction of url_seen."""
    spark, rec, cfg = run.spark, run.rec, INGEST

    def load(tbl: SnapshotTable, rows: int, seed: int, tag: str) -> int:
        df = _candidates(spark, rows, seed).select(
            "url_canon", "url_hash64").dropDuplicates(["url_canon"])
        obs = Observation(f"ingest_load_{tag}")
        tbl.overwrite(df.observe(obs, F.count(F.lit(1)).alias("n")),
                      {"load": True})
        return int(obs.get["n"])

    def batch(tbl: SnapshotTable, rows: int, seed: int, tag: str,
              b: int) -> dict:
        version = tbl.current_version()
        seen = tbl.read(spark)
        caches: list = []
        unseen = seen_ops.probe_unseen(
            _candidates(spark, rows, _batch_seed(seed, b)),
            seen_ops.build_bloom_filters(seen), seen, persisted=caches,
        ).select("url_canon", "url_hash64").dropDuplicates(["url_canon"])
        obs = Observation(f"ingest_batch_{tag}_{b}")
        tbl.append(unseen.observe(obs, F.count(F.lit(1)).alias("n")),
                   {"batch": b})
        n = int(obs.get["n"])
        for c in caches:
            c.unpersist()
        return {"batch": b, "seen_version": version, "unseen": n}

    def import_into(prefix: str, tbl: SnapshotTable, seen_rows: int,
                    batch_rows: int, min_batches: int, seconds: float,
                    seed: int) -> tuple[int, list[dict]]:
        """Load, then batches for ``seconds`` (at least ``min_batches``)."""
        tag = prefix.rstrip(".") or "timed"
        load_rows = rec.run(f"{prefix}load", load, tbl, seen_rows, seed, tag)
        batches: list[dict] = []
        t0 = time.time()
        while len(batches) < min_batches or time.time() - t0 < seconds:
            out = rec.run(f"{prefix}batch", batch, tbl, batch_rows, seed,
                          tag, len(batches))
            if out is None:
                break
            batches.append(out)
        return load_rows or 0, batches

    import_into(WARMUP, run.catalog("ingest", warmup=True).table("url_seen"),
                cfg["warmup_seen_rows"], cfg["warmup_batch_rows"], 1, 0.0,
                run.seed + WARMUP_SEED)
    seen_tbl = run.catalog("ingest").table("url_seen")
    load_rows, batches = import_into(
        "", seen_tbl, cfg["seen_rows"], cfg["batch_rows"], cfg["min_batches"],
        run.seconds, run.seed)
    rec.run("compact", seen_tbl.compact, spark, {"compacted": True})

    t = time.time()
    _check_ingest(run, seen_tbl, batches, load_rows)
    run.facts["checks_s"] = time.time() - t
    run.facts["batches"] = batches


def ingest_figures(run: Run, field: str) -> dict:
    """ingest.load_s, ingest.batch_s (median over batches) and
    ingest.rows_per_sec, from each operation's ``field`` time."""
    rec = run.rec
    batch_ops = rec.of("batch")
    batch_s = sum(o[field] for o in batch_ops)
    return {
        "load_s": _median_of(rec, "load", field),
        "op_s": _median_of(rec, "batch", field),
        "items_per_sec": INGEST["batch_rows"] * len(batch_ops) / batch_s
        if batch_s else None,
    }


def _batch_seed(seed: int, b: int) -> int:
    return seed * 1_000 + 1 + b


def _check_ingest(run: Run, seen_tbl: SnapshotTable, batches: list[dict],
                  load_rows: int) -> None:
    """The last batch's appended rows equal a plain left_anti of its
    candidates against the seen set it was probed with (every earlier
    append is part of that set); the compacted table holds the loaded
    rows plus every batch's unseen rows."""
    spark = run.spark
    if not batches:
        run.check("ingest.unseen_equals_left_anti", False, "no batch completed")
        return
    last = batches[-1]
    v = last["seen_version"]
    want = (
        _candidates(spark, INGEST["batch_rows"], _batch_seed(run.seed, last["batch"]))
        .join(seen_tbl.read(spark, v).select("url_canon"), "url_canon",
              "left_anti")
        .select("url_canon").distinct()
    )
    got = spark.read.parquet(seen_tbl.snapshot(v + 1)["files"][-1])
    diff = (
        want.withColumn("w", F.lit(1))
        .join(got.select("url_canon").withColumn("g", F.lit(1)), "url_canon",
              "full_outer")
        .where("w IS NULL OR g IS NULL").count()
    )
    run.check("ingest.unseen_equals_left_anti", diff == 0,
              {"batch": last["batch"], "unseen_rows": last["unseen"],
               "mismatched_rows": diff})
    total = seen_tbl.read(spark).count()
    want_total = load_rows + sum(b["unseen"] for b in batches)
    run.check("ingest.compacted_rows", total == want_total,
              {"rows": total, "expected": want_total})


def _median_of(rec: Recorder, kind: str, field: str) -> float | None:
    ops = rec.of(kind)
    return median(o[field] for o in ops) if ops else None


WORKLOADS = {"crawl": crawl, "ingest": ingest}
FIGURES = {"crawl": crawl_figures, "ingest": ingest_figures}
SIZES = {"crawl": CRAWL, "ingest": INGEST}
