"""Oracle-checked crawl benchmark for graphina_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads:

- ``crawl_pagerank``: pages parquet -> ``LinkGraph.from_pages`` -> shards ->
  K checkpointed PageRank supersteps -> ranks parquet, at local[4].
- ``crawl_communities``: the crawl's edge table as an undirected graph ->
  connected components, label propagation (fixed rounds), per-node
  triangles, each written to parquet, at local[4].
- ``superstep_scaling``: edge table -> shards -> K PageRank supersteps, once
  in a JVM pinned to one CPU at local[1], then in a local[4] JVM; adds
  ``edges_per_s_1core`` and ``scaling_efficiency`` to the end-to-end
  metrics.  It is not in BENCHMARK.json: its two JVMs take about 145 s per
  run on a 4-core box, as long as the other two workloads together, and the
  listed workloads must fit 48 runs in 57 minutes.  Run it by hand.

Load is a closed loop: one Spark driver process submits one job at a time.  Inputs
are generated from the seed (``gen.py``) and cached with their reference
results (``oracle.py``) under ``.perfbench_work/`` in the current directory;
every run re-checks the input fingerprint and checks every output of every
repetition against the reference, outside the timed region.  A traced run
also leaves its spans, marks and event-log sums in
``.perfbench_work/trace-<workload>-s<seed>.json``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (operations: kernel calls and output writes; a raised error or a
reference mismatch counts as failed) and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import config  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import EVENT_FIELDS  # noqa: E402

WORKLOADS = {
    # workload -> [(worker job, cores)], run in this order
    "crawl_pagerank": [("pagerank", 4)],
    "crawl_communities": [("communities", 4)],
    "superstep_scaling": [("supersteps", 1), ("supersteps", 4)],
}
EVENT_LAYERS = ("graph", "shards", "pagerank", "checkpoint", "components",
                "lpa", "triangles", "write")
DEADLINE_S = 170.0  # per JVM; a run must end within 180 s
KEEP_INPUTS = 3  # cached seeds kept in the work directory


def _median(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


# ---------------------------------------------------------------- inputs
def prepare(work: str, seed: int) -> tuple[str, dict]:
    """Inputs and reference results for ``seed``: made once, then
    fingerprint-checked on every run."""
    base = os.path.join(work, "inputs")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"s{seed}-n{config.CRAWL_PAGES}-d{config.AVG_OUT}")
    fp_file = os.path.join(path, "fingerprint.json")
    ok = False
    if os.path.exists(fp_file):
        with open(fp_file) as f:
            ok = json.load(f) == gen.fingerprint(path)
    if not ok:
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_inputs(tmp, config.CRAWL_PAGES, config.AVG_OUT, config.ZIPF_THETA, seed)
        os.replace(tmp, path)
    os.utime(path)
    # drop the least recently used seeds
    for d in sorted(glob.glob(os.path.join(base, "s*[0-9]")), key=os.path.getmtime)[:-KEEP_INPUTS]:
        shutil.rmtree(d, ignore_errors=True)
        if os.path.exists(d + ".npz"):
            os.remove(d + ".npz")
    return path, reference(path)


def reference(in_dir: str) -> dict:
    """Reference results for the inputs in ``in_dir``, cached next to them
    and keyed by their fingerprint and the kernel settings."""
    with open(os.path.join(in_dir, "fingerprint.json")) as f:
        fp = json.load(f)
    cache = in_dir + ".npz"
    stamp = np.array([fp["edges_hash"], fp["pages_hash"], config.PR_SUPERSTEPS,
                      config.LPA_ROUNDS, round(config.DAMPING * 1e9)], dtype=np.uint64)
    if os.path.exists(cache):
        with np.load(cache) as z:
            if z["stamp"].shape == stamp.shape and np.array_equal(z["stamp"], stamp):
                return {k: z[k] for k in z.files}
    import pyarrow.parquet as pq

    e = pq.read_table(os.path.join(in_dir, "edges"))
    src = e.column("src").to_numpy()
    dst = e.column("dst").to_numpy()
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    pages = np.arange(fp["pages"], dtype=np.int64)
    ends = np.unique(np.concatenate([src, dst]))
    k, d = config.PR_SUPERSTEPS, config.DAMPING
    ref = {
        "stamp": stamp, "src": src, "dst": dst, "pages": pages, "ends": ends,
        "pr_pages": oracle.pagerank(pages, src, dst, k, d),
        "pr_ends": oracle.pagerank(ends, src, dst, k, d),
        "cc": oracle.components(ends, src, dst),
        "lpa": oracle.label_propagation(ends, src, dst, config.LPA_ROUNDS),
        "tri": oracle.triangles(ends, src, dst),
    }
    np.savez(cache + ".tmp.npz", **ref)
    os.replace(cache + ".tmp.npz", cache)
    return ref


# ---------------------------------------------------------------- checks
def _read(path: str, cols: list[str]) -> list[np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    arrs = [t.column(c).to_numpy() for c in cols]
    order = np.lexsort(arrs[::-1])
    return [a[order] for a in arrs]


def check_ranks(path: str, ids: np.ndarray, want: np.ndarray) -> list[str]:
    got_id, rank = _read(path, ["id", "rank"])
    if not np.array_equal(got_id, ids):
        return [f"{path}: vertex ids differ from the reference"]
    errs = []
    if np.isnan(rank).any():
        errs.append(f"{path}: NaN rank")
    if abs(rank.sum() - 1.0) > 1e-9:
        errs.append(f"{path}: sum of ranks {rank.sum()!r} is not within 1e-9 of 1")
    if not np.allclose(rank, want, rtol=1e-6, atol=0.0):
        errs.append(f"{path}: ranks not allclose(rtol=1e-6) to the reference")
    return errs


def check_labels(path: str, col: str, ids: np.ndarray, want: np.ndarray) -> list[str]:
    got_id, val = _read(path, ["id", col])
    if not np.array_equal(got_id, ids) or not np.array_equal(val, want):
        return [f"{path}: {col} differs from the reference"]
    return []


def check_outputs(workload: str, out: str, rep: dict, ref: dict) -> tuple[list[str], dict]:
    """(errors, counts) for one repetition's outputs."""
    errs: list[str] = []
    if workload == "crawl_pagerank":
        s, d = _read(os.path.join(out, "edges"), ["src", "dst"])
        if not (np.array_equal(s, ref["src"]) and np.array_equal(d, ref["dst"])):
            errs.append(f"{out}/edges: parsed edge set differs from the generated one")
        errs += check_ranks(os.path.join(out, "ranks"), ref["pages"], ref["pr_pages"])
        if rep["latest_iteration"] != config.PR_SUPERSTEPS - 1:
            errs.append(f"{out}: resume read found iteration {rep['latest_iteration']}")
        counts = {"vertices": len(ref["pages"]), "edges": len(s)}
    elif workload == "crawl_communities":
        errs += check_labels(os.path.join(out, "cc"), "component", ref["ends"], ref["cc"])
        errs += check_labels(os.path.join(out, "lpa"), "label", ref["ends"], ref["lpa"])
        errs += check_labels(os.path.join(out, "tri"), "triangles", ref["ends"], ref["tri"])
        counts = {"vertices": len(ref["ends"]), "edges": len(ref["src"])}
    else:
        errs += check_ranks(os.path.join(out, "ranks"), ref["ends"], ref["pr_ends"])
        counts = {"vertices": len(ref["ends"]), "edges": len(ref["src"])}
    if "supersteps" in rep and len(rep["supersteps"]) != config.PR_SUPERSTEPS:
        errs.append(
            f"{out}: shard gather ran {len(rep['supersteps'])} times, "
            f"expected {config.PR_SUPERSTEPS}: the shard kernel was not selected"
        )
    return errs, counts


# ---------------------------------------------------------------- workers
def run_worker(job: str, cores: int, inputs: str, run_dir: str,
               seconds: float, trace: int, deadline: float) -> dict:
    """Run one worker process (one JVM) in a session of its own; wait until
    every process of that session (the JVM and Python workers included) has
    ended."""
    work = os.path.join(run_dir, f"{job}-{cores}")
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--job", job,
           "--cores", str(cores), "--inputs", inputs,
           "--work", work, "--seconds", str(seconds), "--trace", str(trace),
           "--result", result]
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            for pid in _live_members(p.pid):
                os.kill(pid, signal.SIGKILL)
            p.wait()
            rc = None
        _reap_session(p.pid)
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker {job}/local[{cores}] failed (rc={rc}):\n{tail}")
    with open(result) as f:
        r = json.load(f)
    r["out"] = os.path.join(work, "out")
    rep = r["reps"][0]
    layers = ", ".join(f"{k} {v:.1f}" for k, v in rep["layers"].items())
    steps = " ".join(f"{x:.2f}" for x in rep.get("supersteps", rep.get("lpa_rounds", [])))
    print(f"perfbench: {job}/local[{cores}] took {time.time() - t0:.1f} s; set-up "
          f"{r['setup_s']:.1f} s; first repetition's layers (s): {layers}; "
          f"supersteps (s): {steps}", file=sys.stderr)
    return r


def _live_members(sid: int) -> list[int]:
    """Running (not zombie) processes of session ``sid``.  The session, not
    the process group: PySpark's Python daemon moves to a group of its own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _reap_session(sid: int) -> None:
    """Wait for every process of the session to end; kill what is left
    after 20 s (the JVM and the Python daemon exit by themselves once the
    worker has gone)."""
    end = time.time() + 20.0
    while pids := _live_members(sid):
        if time.time() > end:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


# ---------------------------------------------------------------- metrics
def _in_loop(steps: list[float]) -> list[float]:
    """Supersteps 2..K: the first one also fills the shard cache."""
    return steps[1:]


def end_to_end(workload: str, workers: list[dict], ref: dict) -> dict:
    main = workers[-1]  # the local[4] JVM
    e = float(len(ref["src"]))
    if workload == "crawl_communities":
        # label propagation rounds last under a second each, short enough
        # for machine noise to swamp a median; time the whole call instead
        step = _median([r["layers"]["lpa"] for r in main["reps"]]) / config.LPA_ROUNDS
    else:
        step = _median([s for r in main["reps"] for s in _in_loop(r["supersteps"])])
    m = {
        "wall_s": (_median([r["wall_s"] for r in main["reps"]]), "s"),
        "setup_s": (_median([w["setup_s"] for w in workers]), "s"),
        "edges_per_s": (e / step, "edges/s"),
        "peak_rss_mb": (max(w["peak_rss_kb"] for w in workers) / 1024.0, "MB"),
    }
    if workload == "superstep_scaling":
        one = _median([s for r in workers[0]["reps"] for s in _in_loop(r["supersteps"])])
        m["edges_per_s_1core"] = (e / one, "edges/s")
        m["scaling_efficiency"] = (one / step / 4.0, "ratio")
    return m


def per_layer(workload: str, workers: list[dict], ref: dict, counts: dict,
              untraced_wall: float) -> dict:
    main = workers[-1]
    r = main["reps"][0]
    lay = r["layers"]
    steps = _in_loop(r.get("supersteps", []))
    m = {
        "session.start_s": (main["session_start_s"], "s"),
        "extract.parse_us_per_page": (main["extract"]["parse_us_per_page"], "us"),
        "extract.links_per_page": (main["extract"]["links_per_page"], "count"),
        "graph.s": (lay.get("graph", 0.0), "s"),
        "graph.vertices": (counts["vertices"], "count"),
        "graph.edges": (counts["edges"], "count"),
        "shards.s": (lay.get("shards", 0.0), "s"),
        "shards.rows": (r.get("shards_rows", 0), "count"),
        "shards.salted_hubs": (r.get("salted_hubs", 0), "count"),
        "shards.gather_plan_ms": (_median(r.get("gather_plan_ms", [])), "ms"),
        "pagerank.s": (lay.get("pagerank", 0.0), "s"),
        "pagerank.supersteps": (len(r.get("supersteps", [])), "count"),
        "pagerank.superstep_s": (_median(steps), "s"),
        "pagerank.superstep_max_s": (max(steps, default=0.0), "s"),
        "checkpoint.save_s": (_median(r.get("save_s", [])), "s"),
        "checkpoint.bytes": (r.get("checkpoint_bytes", 0), "B"),
        "checkpoint.latest_s": (r.get("latest_s", 0.0), "s"),
        "components.s": (lay.get("components", 0.0), "s"),
        "components.iterations": (r.get("cc_iterations", 0), "count"),
        "lpa.s": (lay.get("lpa", 0.0), "s"),
        "lpa.round_s": (_median(_in_loop(r.get("lpa_rounds", []))), "s"),
        "triangles.s": (lay.get("triangles", 0.0), "s"),
        "triangles.total": (int(ref["tri"].sum()) // 3 if workload == "crawl_communities"
                            else 0, "count"),
        "write.s": (lay.get("write", 0.0), "s"),
        "write.bytes": (r.get("write_bytes", 0), "B"),
        "trace.wall_s": (r["wall_s"], "s"),
        "trace.overhead_s": (r["wall_s"] - untraced_wall, "s"),
        "trace.unattributed_s": (r["wall_s"] - sum(lay.values()), "s"),
    }
    for layer in EVENT_LAYERS:
        ev = main["events"].get(layer, {})
        for field, unit in EVENT_FIELDS.items():
            m[f"{layer}.{field}"] = (ev.get(field, 0), unit)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graphina_spark", "__init__.py")):
        print("perfbench: run from the repository root (graphina_spark/ not found)",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs, ref = prepare(work, a.seed)
    print(f"perfbench: inputs and reference ready after {time.time() - start:.1f} s",
          file=sys.stderr)

    walls_file = os.path.join(
        work, f"untraced-{a.workload}-n{config.CRAWL_PAGES}-k{config.PR_SUPERSTEPS}"
        f"-r{config.LPA_ROUNDS}.json")
    untraced = []
    if os.path.exists(walls_file):
        with open(walls_file) as f:
            untraced = json.load(f)
    deadline = start + DEADLINE_S * len(WORKLOADS[a.workload])
    workers = []
    if a.trace and not untraced:
        # no untraced run recorded yet: make one, for the tracing overhead
        for job, cores in WORKLOADS[a.workload]:
            workers.append(run_worker(job, cores, inputs, run_dir,
                                      a.seconds, 0, deadline))
        untraced = [end_to_end(a.workload, workers, ref)["wall_s"][0]]
        shutil.rmtree(run_dir)
        os.makedirs(run_dir)
        workers = []
    for job, cores in WORKLOADS[a.workload]:
        workers.append(run_worker(job, cores, inputs, run_dir,
                                  a.seconds, a.trace, deadline))

    errors: list[str] = []
    counts: dict = {}
    for w in workers:
        for i, rep in enumerate(w["reps"]):
            errs, counts = check_outputs(a.workload, os.path.join(w["out"], f"rep{i}"),
                                         rep, ref)
            errors += errs
    for err in errors:
        print("perfbench: check failed:", err, file=sys.stderr)
    attempted = sum(w["attempted"] for w in workers)
    failed = sum(w["failed"] for w in workers) + len(errors)

    if a.trace:
        metrics = per_layer(a.workload, workers, ref, counts, _median(untraced))
        with open(os.path.join(work, f"trace-{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump([{k: w[k] for k in ("spans", "marks", "events", "reps")}
                       for w in workers], f)
    else:
        metrics = end_to_end(a.workload, workers, ref)
        untraced = (untraced + [metrics["wall_s"][0]])[-20:]
        with open(walls_file, "w") as f:
            json.dump(untraced, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
