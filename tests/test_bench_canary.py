"""``python bench.py`` end to end, as a real subprocess: it exits 0 and
its last stdout line is the metric object over every CORE query."""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

import bench  # noqa: E402


def test_canary_last_stdout_line_is_the_metric(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    obj = json.loads(lines[-1])
    assert set(obj) == {
        "metric", "value", "unit", "sf", "cpus", "master", "queries"
    }
    assert obj["metric"] == "core_query_wall_clock_total"
    assert obj["unit"] == "sec"
    assert obj["cpus"] == 2
    assert obj["master"] == "local[2]"
    assert list(obj["queries"]) == bench.CORE
    assert obj["value"] == round(sum(obj["queries"].values()), 4)
