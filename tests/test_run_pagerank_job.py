"""jobs/run_pagerank.py end to end: a --resume under a reused --run-id on a
different input must start over at iteration 0, not continue the old run's
rank vector."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tmp_path, pages: int, *extra: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_pagerank.py"),
            "--synth-pages", str(pages),
            "--out", str(tmp_path / f"ranks{pages}"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
            "--run-id", "same",
            "--max-iter", "2",
            *extra,
        ],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _manifest(tmp_path, it: int) -> dict:
    with open(tmp_path / "ckpt" / "same" / f"manifest-{it:05d}.json") as f:
        return json.load(f)


def test_resume_on_different_input_starts_at_iteration_zero(tmp_path):
    _run(tmp_path, 30)
    first = _manifest(tmp_path, 0)
    second = _run(tmp_path, 40, "--resume")
    m0 = _manifest(tmp_path, 0)
    # iteration 0 was recomputed under the new input's lineage: the resume
    # did not pick up the 30-page run's checkpoints
    assert m0["lineage"] != first["lineage"]
    assert _manifest(tmp_path, 1)["lineage"] == m0["lineage"]
    assert second["rows"] == m0["rows"]
