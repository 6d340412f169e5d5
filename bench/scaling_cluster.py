"""Multi-process N→4N scaling evidence on a Spark STANDALONE cluster.

The single-JVM local[N] harness (bench/scaling.py) showed the 16-core
ceiling is the box, not the plans — but it cannot add executor JVMs.
This harness launches a real standalone cluster on localhost:

  master (JVM) + 4 worker daemons (JVMs), 4 cores / fixed memory each

and runs the SAME workloads over the SAME materialized parquet at

  N  = spark.cores.max=4   (scheduler grants 1 executor  × 4 cores)
  4N = spark.cores.max=16  (scheduler grants 4 executors × 4 cores)

so the 4N topology is four separate executor JVMs with four separate
heaps/GCs — the shape of a real 4×-larger cluster (minus the box's
shared DRAM).  The app ships the package via addPyFile(zip), i.e. the
``spark-submit --py-files`` distribution path of the north_rule.

Writes BENCH/CLUSTER.md.  Usage:
  python bench/scaling_cluster.py [--dedup-rows 24000000] ...
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = subprocess.check_output(
    [sys.executable, "-c", "import pyspark, os; print(os.path.dirname(pyspark.__file__))"],
    text=True,
).strip()
MASTER_URL = "spark://127.0.0.1:7077"


def _spark_class(args: list[str], log: str, env_extra: dict) -> subprocess.Popen:
    env = dict(os.environ)
    env["SPARK_HOME"] = SPARK_HOME
    env.setdefault("SPARK_NO_DAEMONIZE", "1")
    env.update(env_extra)
    lf = open(log, "w")
    return subprocess.Popen(
        [os.path.join(SPARK_HOME, "bin", "spark-class"), *args],
        stdout=lf, stderr=subprocess.STDOUT, env=env,
    )


def start_cluster(n_workers: int, cores: int, mem: str, workdir: str) -> list:
    procs = [
        _spark_class(
            ["org.apache.spark.deploy.master.Master", "--host", "127.0.0.1",
             "--port", "7077", "--webui-port", "8099"],
            os.path.join(workdir, "master.log"), {},
        )
    ]
    time.sleep(5)
    for i in range(n_workers):
        procs.append(
            _spark_class(
                ["org.apache.spark.deploy.worker.Worker", MASTER_URL,
                 "--cores", str(cores), "--memory", mem,
                 "--port", "0", "--webui-port", str(8100 + i),
                 "--work-dir", os.path.join(workdir, f"worker{i}")],
                os.path.join(workdir, f"worker{i}.log"),
                {"SPARK_LOCAL_DIRS": os.path.join(workdir, f"tmp{i}")},
            )
        )
    time.sleep(8)
    return procs


def make_pyzip(workdir: str) -> str:
    zpath = os.path.join(workdir, "adscrawler_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "adscrawler_spark")
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


APP = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
cores_max = {cores_max}
spark = (SparkSession.builder
    .master({master!r})
    .appName("scaling-cluster-%d" % cores_max)
    .config("spark.cores.max", str(cores_max))
    .config("spark.executor.cores", "4")
    .config("spark.executor.memory", {exec_mem!r})
    .config("spark.driver.memory", "8g")
    .config("spark.sql.shuffle.partitions", str(2 * cores_max))
    .config("spark.default.parallelism", str(cores_max))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.locality.wait", "0")
    .config("spark.pyspark.python", sys.executable)
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# the north_rule's --py-files distribution path: executors import the
# package from the shipped zip, not the driver's filesystem layout
spark.sparkContext.addPyFile({pyzip!r})
from adscrawler_spark.operators import seen as seen_ops
from adscrawler_spark.operators import dedup as dedup_ops
from adscrawler_spark.streaming import job

fr = spark.read.parquet({workdir!r} + "/frontier").select(
    "url", "url_canon", "url_hash64")
seen = spark.read.parquet({workdir!r} + "/seen")
t0 = time.time()
unseen = seen_ops.probe_unseen(fr, seen=seen)
n_unseen = unseen.count()
dedup_sec = time.time() - t0

out = tempfile.mkdtemp(prefix="scaling_cluster_crawl_")
metrics = job.run(spark, out, frontier_size={frontier}, generations=1,
                  listing_batch={batch}, adstxt_batch={batch},
                  budget_seconds=3600.0)
crawl_sec = metrics[0]["elapsed_sec"]
fetched = metrics[0]["fetched"]
shutil.rmtree(out, ignore_errors=True)

import os as _os
_os.environ["ADSCRAWLER_FETCH_CPU_US"] = str({fetch_cpu_us})
out = tempfile.mkdtemp(prefix="scaling_cluster_am_")
metrics = job.run(spark, out, frontier_size={frontier}, generations=1,
                  listing_batch={batch}, adstxt_batch={batch},
                  budget_seconds=3600.0)
am_sec = metrics[0]["elapsed_sec"]
am_fetched = metrics[0]["fetched"]
_os.environ.pop("ADSCRAWLER_FETCH_CPU_US")
shutil.rmtree(out, ignore_errors=True)

docs = spark.read.parquet({workdir!r} + "/docs")
t0 = time.time()
sh = dedup_ops.word_shingles(docs)
sigs = dedup_ops.minhash_signatures(sh, bands=8)
n_sigs = sigs.count()
minhash_sec = time.time() - t0

# getExecutorInfos includes the driver entry -> executors = len - 1
n_execs = len(
    spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()) - 1
spark.stop()
print("RESULT " + json.dumps({{
    "cores_max": cores_max,
    "executors": n_execs,
    "dedup_sec": round(dedup_sec, 2),
    "dedup_rows_per_sec": round({dedup_rows} / dedup_sec, 1),
    "n_unseen": n_unseen,
    "crawl_sec": round(crawl_sec, 2),
    "fetched": fetched,
    "urls_per_sec": round(fetched / crawl_sec, 1),
    "amortized_sec": round(am_sec, 2),
    "amortized_urls_per_sec": round(am_fetched / am_sec, 1),
    "minhash_sec": round(minhash_sec, 2),
    "minhash_docs_per_sec": round({minhash_docs} / minhash_sec, 1),
    "n_sigs": n_sigs,
}}))
"""


def run_app(cores_max: int, workdir: str, pyzip: str, a) -> dict:
    code = APP.format(
        repo=REPO, master=MASTER_URL, cores_max=cores_max, workdir=workdir,
        pyzip=pyzip, dedup_rows=a.dedup_rows, frontier=a.frontier,
        batch=a.batch, minhash_docs=a.minhash_docs,
        fetch_cpu_us=a.fetch_cpu_us, exec_mem=a.exec_mem,
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=3400,
    )
    out = proc.stdout + "\n<stderr>\n" + proc.stderr[-2000:]
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"app cores_max={cores_max} failed:\n{out[-4000:]}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--dedup-rows", type=int, default=24_000_000)
    p.add_argument("--frontier", type=int, default=1_000_000)
    p.add_argument("--batch", type=int, default=100_000)
    p.add_argument("--minhash-docs", type=int, default=600_000)
    p.add_argument("--workdir", default="/tmp/scaling_inputs")
    p.add_argument("--cluster-dir", default="/tmp/scaling_cluster")
    p.add_argument("--fetch-cpu-us", type=int, default=1000)
    p.add_argument("--exec-mem", default="8g")
    p.add_argument("--skip-prep", action="store_true")
    a = p.parse_args()

    if not a.skip_prep:
        # reuse the local harness's prep (writes frontier/seen/docs)
        from scaling import PREP, run_code

        out = run_code(PREP.format(repo=REPO, workdir=a.workdir,
                                   dedup_rows=a.dedup_rows,
                                   minhash_docs=a.minhash_docs))
        if "PREP DONE" not in out:
            raise RuntimeError(f"prep failed: {out[-3000:]}")

    shutil.rmtree(a.cluster_dir, ignore_errors=True)
    os.makedirs(a.cluster_dir, exist_ok=True)
    pyzip = make_pyzip(a.cluster_dir)
    procs = start_cluster(4, 4, a.exec_mem, a.cluster_dir)
    try:
        # warm both topologies once (JVM/codegen warmup), then measure
        small = run_app(4, a.workdir, pyzip, a)
        large = run_app(16, a.workdir, pyzip, a)
    finally:
        for pr in procs:
            pr.terminate()
        for pr in procs:
            try:
                pr.wait(timeout=20)
            except Exception:
                pr.kill()

    assert small["n_unseen"] == large["n_unseen"], "parallelism changed the answer"
    assert small["n_sigs"] == large["n_sigs"]
    eff = {
        "dedup": large["dedup_rows_per_sec"] / (4 * small["dedup_rows_per_sec"]),
        "crawl": large["urls_per_sec"] / (4 * small["urls_per_sec"]),
        "crawl_amortized": large["amortized_urls_per_sec"]
        / (4 * small["amortized_urls_per_sec"]),
        "minhash": large["minhash_docs_per_sec"]
        / (4 * small["minhash_docs_per_sec"]),
    }
    report = {"small": small, "large": large,
              "efficiency": {k: round(v, 3) for k, v in eff.items()}}
    print(json.dumps(report))
    with open(os.path.join(REPO, "BENCH", "CLUSTER.md"), "w") as f:
        f.write(f"""# BENCH/CLUSTER — standalone-cluster N→4N scaling

Real multi-process topology on one box: standalone master + 4 worker
JVMs (4 cores, {a.exec_mem} each); the app ships the package via
addPyFile (the spark-submit --py-files path) and requests
`spark.cores.max` = 4 vs 16, so the scheduler grants **1 executor JVM
× 4 cores** vs **4 executor JVMs × 4 cores** — separate heaps and GCs,
the shape of a 4× cluster (sharing only the box's DRAM).
Identical materialized inputs; answer equality asserted.

| workload | N=1×4 throughput | 4N=4×4 throughput | efficiency |
|---|---|---|---|
| frontier-dedup (rows/s) | {small["dedup_rows_per_sec"]:,} | {large["dedup_rows_per_sec"]:,} | **{eff["dedup"]:.3f}** |
| crawl generation (urls/s) | {small["urls_per_sec"]:,} | {large["urls_per_sec"]:,} | **{eff["crawl"]:.3f}** |
| crawl amortized @{a.fetch_cpu_us}us/url (urls/s) | {small["amortized_urls_per_sec"]:,} | {large["amortized_urls_per_sec"]:,} | **{eff["crawl_amortized"]:.3f}** |
| minhash signatures (docs/s) | {small["minhash_docs_per_sec"]:,} | {large["minhash_docs_per_sec"]:,} | **{eff["minhash"]:.3f}** |

executors seen by the driver: N run = {small["executors"]}, 4N run = {large["executors"]}.
Raw: {json.dumps(report)}
""")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
