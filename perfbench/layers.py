"""Per-layer metrics of a traced run, from its timed operations, their
spans, the Spark REST data attributed to each of them and the files
the timed operations' catalogs wrote; the warm-up feeds only
``session.warmup_s``.  Every metric is defined on every workload; a
layer a workload does not exercise reads 0."""

from __future__ import annotations

from collections import defaultdict

from harness import attribute, median, parquet_sizes, span_s
from workloads import INGEST

STAGE_SUMS = ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes")


def layer_metrics(run, session: dict, stages: list[dict], sqls: list[dict],
                  lake: str) -> tuple[dict, list[dict]]:
    rec = run.rec
    timed_ids = {o["id"] for o in rec.timed}

    def named(name: str) -> list[dict]:
        return [s for s in run.tracer.named(name) if s["op"] in timed_ids]

    m: dict[str, float] = {
        "session.start_s": session["start_s"],
        "session.first_job_s": session["first_job_s"],
        "session.warmup_s": session["warmup_s"],
    }

    # streaming.job, from run_generation's returned dicts and the
    # status-tracker counts of the working generations
    gens = run.facts.get("generations", [])
    gen_ops = rec.of("generation")
    for phase in ("claim_fetch", "parse_sinks", "frontier_update"):
        m[f"job.{phase}_s"] = median(g["phase_secs"][phase] for g in gens)
    for key, name in (("jobs", "spark_jobs"), ("stages", "stages"),
                      ("tasks", "tasks")):
        m[f"job.{name}_per_gen"] = median(o["spark"][key] for o in gen_ops)
    claimed = sum(g["claimed"] for g in gens)
    fetched = sum(g["fetched"] for g in gens)
    ok = sum(g["ok"] for g in gens)
    m["job.fetch_yield"] = fetched / claimed if claimed else 0.0
    m["job.ok_ratio"] = ok / fetched if fetched else 0.0
    m["job.claimed"], m["job.fetched"], m["job.ok"] = claimed, fetched, ok

    # operators.frontier: the three concurrent claim families per
    # working generation
    gen_ids = {o["id"] for o in gen_ops}
    per_gen = defaultdict(list)
    for s in named("frontier.claim_batch"):
        if s["op"] in gen_ids:
            per_gen[s["op"]].append(s["end"] - s["start"])
    m["frontier.claim_batch_sum_s"] = median(sum(v) for v in per_gen.values())
    m["frontier.claim_batch_max_s"] = median(max(v) for v in per_gen.values())

    # sources.catalog; a compaction's own overwrite counts as compaction
    compact_ids = {s["id"] for s in named("catalog.compact")}
    appends = named("catalog.append")
    overwrites = [s for s in named("catalog.overwrite")
                  if s["parent"] not in compact_ids]
    m["catalog.append_s"] = span_s(appends)
    m["catalog.append_calls"] = len(appends)
    m["catalog.overwrite_s"] = span_s(overwrites)
    m["catalog.overwrite_calls"] = len(overwrites)
    m["catalog.compact_s"] = span_s(named("catalog.compact"))
    sizes = parquet_sizes(lake)
    m["catalog.bytes_written"] = sum(sizes)
    m["catalog.files_written"] = len(sizes)

    # operators.seen
    batches = run.facts.get("batches", [])
    unseen = sum(b["unseen"] for b in batches)
    m["seen.probe_s"] = span_s(named("seen.probe_unseen"))
    m["seen.unseen_rows"] = unseen
    m["seen.unseen_ratio"] = (unseen / (INGEST["batch_rows"] * len(batches))
                              if batches else 0.0)

    # Spark stages and SQL executions, attributed to operations by time
    stage_by_op = attribute(rec.ops, stages)
    sql_by_op = attribute(rec.ops, sqls)
    per_op = []
    for op in rec.timed:
        row = {"id": op["id"], "kind": op["kind"], "secs": op["secs"],
               **op["spark"]}
        for k in STAGE_SUMS:
            row[k] = sum(s[k] for s in stage_by_op[op["id"]])
        row["python_eval_s"] = sum(x["python_eval_s"] for x in sql_by_op[op["id"]])
        per_op.append(row)
    for k in STAGE_SUMS:
        m[f"stage.{k}"] = sum(r[k] for r in per_op)
    m["sql.python_eval_s"] = sum(r["python_eval_s"] for r in per_op)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = sum(r[key] for r in per_op)
    return m, per_op
