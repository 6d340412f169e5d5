"""perfbench: end-to-end and per-layer benchmark of adscrawler_spark.

One workload per invocation, one closed-loop client, on
``local[SPARK_GRAFT_CPUS]`` (default: half the cores this process may
use):

    python3 perfbench/run.py --workload crawl --seed 42 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with nothing wrapped;
``--trace 1`` wraps the program's public functions in spans, turns the
Spark UI on for its REST API, and reports the per-layer metrics.  The
metric names and units are the ones BENCHMARK.json declares; times
are wall times less the share the hypervisor stole.  The last
stdout line is one JSON object: ``correct`` (every output check
passed), ``attempted`` and ``failed`` operations, and ``metrics``.
The full report (host record, every operation, checks, spans and
per-operation stage metrics) goes to ``perfbench/work/results/``.

``python3 perfbench/run.py --all`` runs every workload untraced, then
traced, and prints every metric with its unit, the checks and the
tracing overhead.  perfbench/README.md explains each number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from harness import cpu_ticks

# stolen-time counters as near process start as they can be read
START_TICKS = cpu_ticks()

import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")

# the workload-specific name of each shared end-to-end metric
ALIASES = {
    "crawl": {"load_s": "crawl.bootstrap_s", "op_s": "crawl.generation_s",
              "items_per_sec": "crawl.urls_per_sec"},
    "ingest": {"load_s": "ingest.load_s", "op_s": "ingest.batch_s",
               "items_per_sec": "ingest.rows_per_sec"},
}
WARMUP_POLICY = (
    "fixed: after session start, one job runs a pandas UDF on one "
    "partition per core, which starts the Python worker daemon and a "
    "worker per core (session.first_job_s). ingest then runs a load and "
    "a batch untimed, on smaller inputs in a lake of their own "
    "(session.warmup_s); crawl has no such warm-up, so its bootstrap and "
    "generation run with a cold JIT. All of it is inside setup_s"
)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def process_start() -> float:
    """Wall-clock time this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a record of how fast
    the cores were when the run started (shared hosts drift)."""
    t = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.perf_counter() - t


def configure() -> dict:
    """Environment the session is built from; every value is recorded.
    Spark's scratch space and the JVM's temp dir stay inside WORK."""
    nproc = len(os.sched_getaffinity(0))
    # a task slot running a pandas UDF keeps two threads busy, the JVM
    # task and its Python worker: half the cores as slots keeps the busy
    # threads within the cores; a crawl generation took no longer on 2
    # slots than on 4 (see README, Sizing)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, nproc // 2)))
    # the session defaults to a 16g driver heap, more than a 15 GB
    # 4-core VM has; 1g holds both workloads and keeps peak memory from
    # drifting with how far the heap happens to grow
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "shuffle_partitions": int(os.environ["SPARK_GRAFT_CPUS"]),
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
        "cpu_probe_s": cpu_probe_s(),
        "warmup_policy": WARMUP_POLICY,
    }


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job/stage of a run visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return conf


def first_job(spark, cores: int) -> None:
    """The warm-up job: a pandas UDF over one partition per core."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(0, 1000 * cores, 1, cores).select(
        plus_one("id").alias("x")).agg(F.sum("x")).collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_process = process_start()
    host = configure()
    lake = os.path.join(WORK, "lake", f"{workload}-{seed}-{int(trace)}")
    warmup_lake = f"{lake}-warmup"
    for d in (lake, warmup_lake):
        shutil.rmtree(d, ignore_errors=True)

    import workloads as W
    from harness import (WARMUP, Recorder, PssSampler, StatusCounters,
                         Tracer, steal_share, unstolen_s)

    from adscrawler_spark.session import get_spark

    sampler = PssSampler().start()
    t = time.time()
    spark = get_spark(
        f"perfbench-{workload}", cores=host["SPARK_GRAFT_CPUS"],
        shuffle_partitions=host["shuffle_partitions"],
        extra_conf=spark_conf(trace),
    )
    session = {"start_s": time.time() - t}
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = Tracer(trace)
    try:
        t = time.time()
        first_job(spark, host["shuffle_partitions"])
        session["first_job_s"] = time.time() - t

        W.install_spans(tracer)
        rec = Recorder(StatusCounters(sc), tracer)
        run = W.Run(spark, lake, warmup_lake, rec, tracer, seed, seconds)
        W.WORKLOADS[workload](run)
        stages = sqls = []
        if trace:
            from harness import rest_metrics

            stages, sqls = rest_metrics(sc)
        host["java"] = sc._jvm.java.lang.System.getProperty("java.version")
        host["pyspark"] = sc.version
    finally:
        tracer.restore()
        t = time.time()
        stop_session(spark)
        session["stop_s"] = time.time() - t
    session["warmup_s"] = sum(o["wall_s"] for o in rec.ops
                              if o["kind"].startswith(WARMUP))
    end_ticks = cpu_ticks()
    host["steal_share"] = steal_share(START_TICKS, end_ticks)
    first = rec.timed[0]
    e2e = W.FIGURES[workload](run, "secs")
    wall = W.FIGURES[workload](run, "wall_s")
    wall["setup_s"] = first["start"] - t_process
    e2e["setup_s"] = unstolen_s(wall["setup_s"], START_TICKS, first["ticks"])
    e2e["peak_pss_mb"] = sampler.stop()

    report = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "host": host, "sizes": W.SIZES[workload],
        "session": session, "e2e": e2e, "wall": wall,
        "aliases": ALIASES[workload],
        "attempted": rec.attempted, "failed": rec.failed, "ops": rec.ops,
        "checks": run.checks, "facts": run.facts,
    }
    if trace:
        import layers

        report["layers"], report["per_op"] = layers.layer_metrics(
            run, session, stages, sqls, lake)
        report["spans"] = tracer.spans
    for d in (lake, warmup_lake):
        shutil.rmtree(d, ignore_errors=True)
    return report


def result_line(report: dict, spec: dict) -> dict:
    values = report["layers"] if report["trace"] else report["e2e"]
    declared = spec["per_layer"] if report["trace"] else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in declared}
    complete = all(m["value"] is not None for m in metrics.values())
    return {
        "correct": complete and all(c["ok"] for c in report["checks"].values()),
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def results_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json")


def tracing_overhead(traced: dict, untraced: dict) -> dict:
    """Traced minus untraced, as a share of untraced, for every
    end-to-end metric both runs measured."""
    out = {}
    for k, b in untraced["e2e"].items():
        a = traced["e2e"].get(k)
        if a is not None and b:
            out[k] = (a - b) / b
    return out


def describe(report: dict, spec: dict) -> list[str]:
    w = report["workload"]
    lines = [f"# {w} seed={report['seed']} trace={report['trace']} "
             f"host={json.dumps(report['host'], sort_keys=True)} "
             f"sizes={json.dumps(report['sizes'], sort_keys=True)}"]
    for op in report["ops"]:
        status = "ok" if op["ok"] else f"FAILED {op['error']}"
        lines.append(f"{w} op {op['id']} {op['kind']}: {op['secs']:.3f} s "
                     f"(wall {op['wall_s']:.3f} s, stolen "
                     f"{op['steal_share']:.2f}) {json.dumps(op['spark'])} "
                     f"{status}")
    for m in spec["end_to_end"]:
        k, alias = m["name"], report["aliases"].get(m["name"])
        v, raw = report["e2e"].get(k), report["wall"].get(k)
        lines.append(f"{w} {k}{f' ({alias})' if alias else ''} = "
                     f"{'n/a' if v is None else f'{v:.4f}'} {m['unit']}"
                     f"{'' if raw is None else f' (wall clock {raw:.4f})'}")
    for name, c in report["checks"].items():
        lines.append(f"{w} check {name}: {'ok' if c['ok'] else 'FAILED'} "
                     f"{json.dumps(c['detail'])}")
    if "layers" in report:
        for m in spec["per_layer"]:
            lines.append(f"{w} layer {m['name']} = "
                         f"{report['layers'][m['name']]:.6g} {m['unit']}")
    if "overhead" in report:
        lines.append(f"{w} tracing overhead {json.dumps(report['overhead'])}")
    lines.append(f"{w} attempted={report['attempted']} failed={report['failed']}")
    return lines


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, each in its own process."""
    ok = True
    for w in ALIASES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            out = proc.stdout.strip().splitlines()
            print("\n".join(out), flush=True)
            if proc.returncode != 0 or not out:
                print(f"{w} trace={trace}: exit code {proc.returncode}")
                ok = False
                continue
            ok &= json.loads(out[-1])["correct"]
        print(f"{w} traced report: {results_path(w, seed, 1)}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=list(ALIASES))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced")
    args = ap.parse_args()
    spec = load_spec()
    seconds = spec["run_seconds"] if args.seconds is None else args.seconds
    if args.all:
        return run_all(args.seed, seconds)
    if args.workload is None:
        ap.error("--workload or --all is required")

    sys.path[:0] = [HERE, ROOT]
    report = run_one(args.workload, args.seed, seconds, bool(args.trace))
    untraced = results_path(args.workload, args.seed, 0)
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            report["overhead"] = tracing_overhead(report, json.load(f))
    path = results_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("\n".join(describe(report, spec)))
    print(json.dumps(result_line(report, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
