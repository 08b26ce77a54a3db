"""One Spark driver process of the benchmark: session, then the timed job.

``run.py`` starts one of these per JVM and reads back the JSON it writes:

    python3 perfbench/worker.py --job pagerank|communities|supersteps \\
        --cores N --inputs DIR --work DIR --seconds S --trace 0|1 --result FILE

Set-up is the session start plus opening the input table.  There is no
warm-up run: on a 4-core box a warm-up run costs as much as the job, which
the benchmark's time budget does not allow, so the timed job is the first in
its JVM, as a spark-submit job is.  The job is repeated while the next
repetition is expected to end within ``--seconds`` (at least once; once when
tracing).  Every timed call ends in a parquet write or in a checksum over
every output column.  Outputs of each repetition go to ``WORK/out/rep<r>/``
for the oracle checks, which run in the parent after this process has
ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# importing these starts no JVM: that happens in get_spark, after main() has
# set the environment and the CPU affinity the JVM inherits
import config  # noqa: E402
from graphina_spark.functions.extract import parse_links_pd  # noqa: E402
from graphina_spark.graph import LinkGraph  # noqa: E402
from graphina_spark.operators.components import connected_components  # noqa: E402
from graphina_spark.operators.lpa import label_propagation  # noqa: E402
from graphina_spark.operators.pagerank import pagerank  # noqa: E402
from graphina_spark.operators.triangles import triangles  # noqa: E402
from graphina_spark.plans.checkpoint import CheckpointManager  # noqa: E402
from graphina_spark.plans.shards import build_adj_shards  # noqa: E402
from graphina_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import Recorder, instrument, layer_events  # noqa: E402


def driver_memory_mb() -> int:
    """A sixteenth of physical memory, between 1 and 2 GiB: the crawl here
    needs well under that, the box may be shared, and a small heap keeps
    the JVM's resident size from following GC timing."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 1024 // 16))


def _env(a) -> dict:
    tmp = os.path.join(a.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(a.cores)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if a.trace else "false",
    }
    if a.trace:
        ev = os.path.join(a.work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + ev
        conf["spark.eventLog.compress"] = "false"
    return conf


class Job:
    """One repetition's calls, spans and op counts."""

    def __init__(self, spark, rec, trace: bool = False):
        self.spark, self.rec, self.trace = spark, rec, trace
        self.attempted = 0
        self.layers: dict[str, float] = {}

    @contextmanager
    def layer(self, name: str):
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)
        start = time.time()
        with self.rec.span(name):
            yield
        self.layers[name] = self.layers.get(name, 0.0) + time.time() - start
        if self.trace:
            self.spark.sparkContext.setJobGroup("untimed", "untimed")

    def op(self, fn, *a, **kw):
        """One operation: a kernel call or an output write."""
        self.attempted += 1
        return fn(*a, **kw)


def checksum(df) -> list:
    """Row count plus a sum of hashes over every column: consumes the whole
    frame, unlike a bare count() that Catalyst may prune."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1 << 31))
    return list(df.agg(F.count(F.lit(1)), F.sum(h)).first())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names if n.endswith(".parquet")
    )


def _shards(job: Job, g) -> dict:
    with job.layer("shards"):
        adj = job.op(build_adj_shards, g, dangling_sink=True)
        rows = checksum(adj.shards)[0]
        hubs = checksum(adj.salt_map)[0]
        checksum(adj.wout)
    return {"adj": adj, "shards_rows": rows, "salted_hubs": hubs}


def job_pagerank(job: Job, inputs: str, out: str, ckpt_base: str, rep: int) -> dict:
    """The shipped crawl job: pages -> graph -> shards -> K checkpointed
    supersteps -> ranks parquet."""
    spark = job.spark
    with job.layer("graph"):
        pages = spark.read.parquet(os.path.join(inputs, "pages"))
        g = job.op(LinkGraph.from_pages, pages)
    info = _shards(job, g)
    ckpt = CheckpointManager(
        base=ckpt_base, run_id=f"rep{rep}",
        params={"alg": "pagerank", "damping": config.DAMPING,
                "fixed_iters": config.PR_SUPERSTEPS},
    )
    with job.layer("pagerank"):
        ranks = job.op(
            pagerank, g, damping=config.DAMPING, fixed_iters=config.PR_SUPERSTEPS,
            shards=info["adj"], shards_min_edges=0, checkpoint=ckpt,
        )
    with job.layer("write"):
        job.op(ranks.write.mode("overwrite").parquet, os.path.join(out, "ranks"))
    info.update(graph=g, ckpt=ckpt)
    return info


def after_pagerank(job: Job, info: dict, out: str) -> dict:
    """Untimed: parsed edge set for the oracle, the resume read, manifests."""
    info["graph"].edges.select("src", "dst").write.mode("overwrite").parquet(
        os.path.join(out, "edges")
    )
    ckpt = info["ckpt"]
    with job.layer("checkpoint"):
        it, df, _ = ckpt.latest(job.spark)
        checksum(df)
    nbytes = 0
    for name in os.listdir(ckpt.run_dir):
        if name.startswith("manifest-") and name.endswith(".json"):
            with open(os.path.join(ckpt.run_dir, name)) as f:
                nbytes += sum(p["bytes"] for p in json.load(f)["partitions"])
    return {"latest_s": job.layers.pop("checkpoint"), "checkpoint_bytes": nbytes,
            "latest_iteration": it}


def job_communities(job: Job, inputs: str, out: str, ckpt_base: str, rep: int) -> dict:
    """Undirected crawl edges -> components, label propagation, triangles."""
    spark = job.spark
    with job.layer("graph"):
        g = LinkGraph.from_edges(
            spark.read.parquet(os.path.join(inputs, "edges")), directed=False
        )
    with job.layer("components"):
        cc = job.op(connected_components, g)
    with job.layer("write"):
        job.op(cc.write.mode("overwrite").parquet, os.path.join(out, "cc"))
    with job.layer("lpa"):
        lp = job.op(label_propagation, g, fixed_iters=config.LPA_ROUNDS)
    with job.layer("write"):
        job.op(lp.write.mode("overwrite").parquet, os.path.join(out, "lpa"))
    # triangles() returns a lazy plan: its write is what runs the kernel
    with job.layer("triangles"):
        tri = job.op(triangles, g)
        job.op(tri.write.mode("overwrite").parquet, os.path.join(out, "tri"))
    return {}


def job_supersteps(job: Job, inputs: str, out: str, ckpt_base: str, rep: int) -> dict:
    """Edge table -> shards -> K supersteps, no checkpoint, no write."""
    spark = job.spark
    with job.layer("graph"):
        g = LinkGraph.from_edges(spark.read.parquet(os.path.join(inputs, "edges")))
    info = _shards(job, g)
    with job.layer("pagerank"):
        ranks = job.op(
            pagerank, g, damping=config.DAMPING, fixed_iters=config.PR_SUPERSTEPS,
            shards=info["adj"], shards_min_edges=0,
        )
        checksum(ranks)
    info["ranks"] = ranks
    return info


JOBS = {"pagerank": job_pagerank, "communities": job_communities,
        "supersteps": job_supersteps}
INPUT_TABLE = {"pagerank": "pages", "communities": "edges", "supersteps": "edges"}


def rep_record(job: Job, rec, info: dict, wall_s: float) -> dict:
    """Per-repetition numbers taken from the spans and marks."""
    r = {"layers": dict(job.layers), "wall_s": wall_s}
    if "pagerank" in job.layers:
        pr = rec.last("pagerank")
        r["supersteps"] = rec.steps("gather", pr)
        r["gather_plan_ms"] = [d * 1000 for d in rec.durations("shards.gather_plan")]
        r["save_s"] = rec.durations("checkpoint.save")
        r["shards_rows"] = info["shards_rows"]
        r["salted_hubs"] = info["salted_hubs"]
    if "lpa" in job.layers:
        r["lpa_rounds"] = rec.steps("lpa.round", rec.last("lpa"))
        cc = rec.last("components")
        # one materialize for the initial labels, one per iteration
        r["cc_iterations"] = len(
            [t for t in rec.marks["components.materialize"] if cc["start"] <= t <= cc["end"]]
        ) - 1
    return r


def extract_probe(inputs: str) -> dict:
    """parse_links_pd called directly on a fixed page batch."""
    first = sorted(os.listdir(os.path.join(inputs, "pages")))[0]
    t = pq.read_table(os.path.join(inputs, "pages", first), columns=["url", "html"])
    pdf = t.slice(0, config.EXTRACT_BATCH).to_pandas()
    times, links = [], 0
    for _ in range(5):
        t0 = time.perf_counter()
        res = parse_links_pd(pdf["html"], pdf["url"])
        times.append(time.perf_counter() - t0)
        links = sum(len(x) for x in res)
    return {"parse_us_per_page": statistics.median(times) / len(pdf) * 1e6,
            "links_per_page": links / len(pdf)}


def jvm_peak_rss_kb(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=sorted(JOBS), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    if a.cores == 1:
        # pin before the JVM starts, so it and its threads inherit one CPU
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    conf = _env(a)

    rec = Recorder()
    instrument(rec)
    result: dict = {"reps": [], "attempted": 0, "failed": 0}
    run_job = JOBS[a.job]
    out_root = os.path.join(a.work, "out")
    ckpt_root = os.path.join(a.work, "ckpt")
    spark = None
    try:
        t0 = time.time()
        spark = get_spark("perfbench", master=f"local[{a.cores}]", extra_conf=conf)
        result["session_start_s"] = time.time() - t0
        spark.read.parquet(os.path.join(a.inputs, INPUT_TABLE[a.job])).schema
        result["setup_s"] = time.time() - t0

        t_meas = time.time()
        rep = 0
        while True:
            rec.spans.clear()
            rec.marks.clear()
            out = os.path.join(out_root, f"rep{rep}")
            job = Job(spark, rec, trace=bool(a.trace))
            t_rep = time.time()
            try:
                info = run_job(job, a.inputs, out, ckpt_root, rep)
            finally:
                result["attempted"] += job.attempted
            r = rep_record(job, rec, info, time.time() - t_rep)
            if a.job == "pagerank":
                r.update(after_pagerank(job, info, out))
            if a.job == "supersteps":
                info["ranks"].write.mode("overwrite").parquet(os.path.join(out, "ranks"))
            if a.job in ("pagerank", "communities"):
                r["write_bytes"] = _dir_bytes(out) - _dir_bytes(os.path.join(out, "edges"))
            result["reps"].append(r)
            spark.catalog.clearCache()
            shutil.rmtree(ckpt_root, ignore_errors=True)
            rep += 1
            elapsed = time.time() - t_meas
            if a.trace or elapsed + r["wall_s"] > a.seconds:
                break
        result["peak_rss_kb"] = jvm_peak_rss_kb(spark)
        if a.trace:
            result["spans"] = rec.spans
            result["marks"] = rec.marks
            result["extract"] = extract_probe(a.inputs)
    except Exception:
        result["failed"] += 1
        result["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()
    if a.trace and "error" not in result:
        layers: dict[str, list] = {}
        for s in result["spans"]:
            if s["parent"] is None:
                layers.setdefault(s["name"], []).append(s)
        result["events"] = layer_events(os.path.join(a.work, "eventlog"), layers)
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 1 if "error" in result else 0


if __name__ == "__main__":
    sys.exit(main())
